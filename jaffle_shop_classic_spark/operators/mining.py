"""Pattern-mining, sketching, evaluation, inference and privacy operators.

Round-7 additions that extend the engine past the reference's relational
surface (the reference delegates everything to warehouse SQL —
/root/reference/models/customers.sql:1 is the deepest plan it owns) into
the families a production lakehouse runs daily:

  sketches      — count-min (portable md5 family), portable HyperLogLog
  graph         — k-hop BFS, min-plus shortest paths, degree power-law
  evaluation    — Mann-Whitney AUC, nDCG@10, calibration/Brier bins,
                  k-NN label-noise audit, exact embedding centroids
  inference     — Bayesian-bootstrap CIs, Kaplan-Meier survival,
                  Mann-Kendall/Theil-Sen trend, Holt smoothing,
                  lagged cross-correlation, Bollinger bands,
                  day-of-week seasonality, time-decay scoring
  sequences     — MATCH_RECOGNIZE-style session regex, gaps-and-islands,
                  sweep-line peak concurrency, position attribution
  profiling     — functional-dependency discovery, vocabulary-overlap
                  matrix, quantile normalization, share-of-parent rollup
  privacy       — epsilon-DP Laplace counts (seeded), l-diversity audit

Every operator keeps the catalog's parity rules: identical column
aliases in Spark and DuckDB, integer-exact or fold-ordered arithmetic
wherever a sum crosses an engine boundary, and rounding only at the
final projection. Shared building blocks (_copurchase_pairs,
_sessionized_events, _seeded_uniform, _monthly_revenue) keep the
certified algebra in one place.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.parquet import load_table, load_table_parallel
from .catalog import register
from .text import _md5_int8_sql, _TOKENS_SQL

# ------------------------------------------------------- count-min sketch
# Width/depth sized for the test vocabulary; at 100 TB the sketch stays
# EXACTLY this size (that is the point of a sketch) — only the counts in
# the 3x512 cells grow.
# ------------------------------------------------ shared building blocks
def _copurchase_pairs(spark: SparkSession, sf_dir: str, min_support: int) -> DataFrame:
    """Support-thresholded co-purchase part pairs (pa < pb, with cnt) —
    the basket-bounded self-join copurchase_part_pairs certifies,
    shared by the three graph operators in this module."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select("l_orderkey", "l_partkey").distinct()
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_support)
    )


def _sessionized_events(e: DataFrame) -> DataFrame:
    """30-min-gap sessionization (the session_top_paths algebra, µs-exact
    gap test, event_id tiebreaks): adds a per-user BIGINT sid."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            (F.expr("unix_micros(ts)") - F.lag(F.expr("unix_micros(ts)")).over(w))
            < 1_800_000_000,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("new_s"),
    )
    return m.withColumn(
        "sid",
        F.sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    ).drop("new_s")


def _seeded_uniform(key: F.Column) -> F.Column:
    """Portable seeded uniform in (0,1): first 8 md5 hex digits of the
    key folded to a bigint, mod 1e6, center-offset — the inverse-CDF
    input shared by the DP and bootstrap operators."""
    return (
        (
            F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % 1000000
        ).cast("double")
        + 0.5
    ) / 1000000.0


def _monthly_revenue(o: DataFrame) -> DataFrame:
    """Exact-decimal monthly revenue rollup shared by the time-series
    operators."""
    return o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("rev")
    )


CMS_WIDTH = 512
CMS_DEPTH = 3


def _cms_bucket(j: F.Column, tok: F.Column) -> F.Column:
    """Row-j bucket for a token: first 8 md5 hex digits of 'j|tok' folded
    to a bigint, mod width — byte-identical in DuckDB (_md5_int8_sql)."""
    key = F.concat(j.cast("string"), F.lit("|"), tok)
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint") % CMS_WIDTH
    ).cast("int")


@register(
    "sketch_cms_frequencies",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    freq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n
      FROM toks WHERE tok <> '' GROUP BY tok
    ),
    keyed AS (
      SELECT tok, n, j,
             CAST({_md5_int8_sql("CAST(j AS VARCHAR) || '|' || tok")}
                  % {CMS_WIDTH} AS INT) AS bucket
      FROM freq, (SELECT unnest(range(0, {CMS_DEPTH})) AS j)
    ),
    sketch AS (
      SELECT j, bucket, CAST(sum(n) AS BIGINT) AS cnt
      FROM keyed GROUP BY j, bucket
    ),
    est AS (
      SELECT k.tok, max(k.n) AS true_n, min(s.cnt) AS cms_est
      FROM keyed k JOIN sketch s ON k.j = s.j AND k.bucket = s.bucket
      GROUP BY k.tok
    )
    SELECT tok, true_n, cms_est,
           CAST(cms_est - true_n AS BIGINT) AS overcount
    FROM est
    ORDER BY cms_est DESC, tok ASC
    LIMIT 20
    """,
    doc="Count-min sketch (Cormode & Muthukrishnan 2005) over the corpus "
    "token stream, with the one-sided-error estimate surfaced next to "
    "the exact count so the overcount property (est >= true, always) "
    "is part of the certified output. The hash family is PORTABLE — "
    "first 8 md5 hex digits of 'row|token' folded to a bigint, never "
    "an engine-internal hash — so DuckDB builds the bit-identical "
    "sketch. Plan shape: one token hash-aggregate builds the exact "
    "frequency table (needed for the comparison anyway), the 3x512 "
    "sketch is then aggregated FROM the frequency table (commutative "
    "sums, so this is equivalent to hashing the raw stream but "
    "touches vocab-cardinality rows instead of corpus-cardinality), "
    "and the point-query join is a broadcast of the <=1536-row "
    "sketch. At 100 TB the sketch is still 1536 cells — the mergeable "
    "fixed-memory frequency structure heavy-hitter monitors ship to "
    "the driver, complementing text_heavy_hitters_mg (Misra-Gries "
    "keeps the keys, CMS answers point queries for ANY key).",
)
def q_sketch_cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import tokens_col

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    keyed = freq.select(
        "tok",
        "n",
        F.explode(F.array([F.lit(j) for j in range(CMS_DEPTH)])).alias("j"),
    ).withColumn("bucket", _cms_bucket(F.col("j"), F.col("tok")))
    sketch = keyed.groupBy("j", "bucket").agg(
        F.sum("n").cast("bigint").alias("cnt")
    )
    est = (
        keyed.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("tok")
        .agg(F.max("n").alias("true_n"), F.min("cnt").alias("cms_est"))
    )
    return (
        est.select(
            "tok",
            "true_n",
            "cms_est",
            (F.col("cms_est") - F.col("true_n")).cast("bigint").alias("overcount"),
        )
        .orderBy(F.col("cms_est").desc(), F.col("tok").asc())
        .limit(20)
    )


# ------------------------------------------------------ bounded-depth BFS
KHOP_MIN_SUPPORT = 2  # co-purchase support threshold that defines an edge
KHOP_DEPTH = 3


@register(
    "graph_khop_reach",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING count(*) >= {KHOP_MIN_SUPPORT}
    ),
    e AS (SELECT pa AS s, pb AS dst FROM p
          UNION ALL SELECT pb, pa FROM p),
    seed AS (SELECT min(s) AS node FROM e),
    h0 AS (SELECT node FROM seed),
    h1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN h0 ON e.s = h0.node),
    h2 AS (SELECT DISTINCT e.dst AS node FROM e JOIN h1 ON e.s = h1.node),
    h3 AS (SELECT DISTINCT e.dst AS node FROM e JOIN h2 ON e.s = h2.node),
    u AS (
      SELECT node, 0 AS dist FROM h0
      UNION ALL SELECT node, 1 FROM h1
      UNION ALL SELECT node, 2 FROM h2
      UNION ALL SELECT node, 3 FROM h3
    )
    SELECT node, CAST(min(dist) AS INT) AS dist
    FROM u GROUP BY node
    ORDER BY dist ASC, node ASC
    """,
    doc="Bounded-depth BFS: every part reachable within 3 hops of a "
    "deterministic seed (the smallest part id in the graph) over the "
    "co-purchase graph (edge = two parts sharing >= 2 orders — the "
    "copurchase_part_pairs support count as an adjacency filter). "
    "Frontier expansion is one equi-join per hop on the edge source "
    "key — the Pregel exchange shape graph_pagerank certifies, here "
    "with a FIXED depth so the whole traversal is a single Catalyst "
    "plan with no driver-side convergence loop. min(dist) at the end "
    "replaces per-hop visited-set anti-joins: cheaper at shallow "
    "depth because re-reached nodes are rare in a support-thresholded "
    "graph, and it keeps the oracle a pure 4-CTE union. At 100 TB the "
    "per-hop join shuffles on the node key (AQE broadcasts while the "
    "frontier is small); for deep traversals swap in the anti-join "
    "frontier prune + localCheckpoint per round exactly as "
    "dedup_cluster_components does.",
)
def q_graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _copurchase_pairs(spark, sf_dir, KHOP_MIN_SUPPORT).select("pa", "pb")
    e = p.select(F.col("pa").alias("s"), F.col("pb").alias("dst")).unionAll(
        p.select(F.col("pb").alias("s"), F.col("pa").alias("dst"))
    )
    # the edge list feeds 4 joins — evaluate it once
    e = e.localCheckpoint(eager=False)
    h0 = e.agg(F.min("s").alias("node"))
    hops = [h0]
    for _ in range(KHOP_DEPTH):
        prev = hops[-1]
        hops.append(
            e.join(prev.hint("broadcast"), e["s"] == prev["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
    u = None
    for dist, h in enumerate(hops):
        layer = h.select("node", F.lit(dist).alias("dist"))
        u = layer if u is None else u.unionAll(layer)
    return (
        u.groupBy("node")
        .agg(F.min("dist").cast("int").alias("dist"))
        .orderBy(F.col("dist").asc(), F.col("node").asc())
    )


# ------------------------------------------------------------- exact AUC
@register(
    "eval_auc_mannwhitney",
    oracle="""
    WITH l AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS cohort,
             value AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ),
    g AS (
      SELECT cohort, score,
             CAST(sum(y) AS BIGINT) AS p,
             CAST(count(*) - sum(y) AS BIGINT) AS neg
      FROM l GROUP BY cohort, score
    ),
    c AS (
      SELECT cohort, p, neg,
             CAST(sum(neg) OVER (
               PARTITION BY cohort ORDER BY score
               ROWS UNBOUNDED PRECEDING
             ) - neg AS BIGINT) AS neg_below
      FROM g
    ),
    a AS (
      SELECT cohort,
             CAST(sum(p) AS BIGINT) AS n_pos,
             CAST(sum(neg) AS BIGINT) AS n_neg,
             CAST(sum(p * (2 * neg_below + neg)) AS BIGINT) AS num2
      FROM c GROUP BY cohort
    )
    SELECT cohort, n_pos, n_neg,
           round(CAST(num2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc
    FROM a ORDER BY cohort
    """,
    doc="Exact ROC-AUC via the Mann-Whitney U statistic — the model-"
    "evaluation metric every classifier in the repo (quality_lr_"
    "classifier, lang_nb_classifier) needs, computed WITHOUT the "
    "O(P*N) pairwise comparison: AUC = P(score_pos > score_neg) + "
    "0.5*P(tie), obtained from per-distinct-score (pos, neg) counts "
    "plus one cumulative window. Tie handling is exact and INTEGER-"
    "exact: every numerator term p*(2*neg_below + neg) is a bigint "
    "(the 0.5 tie credit is carried as the factor-2 numerator), so "
    "both engines sum identical integers and only the final division "
    "is floating. Label = purchase events, score = event value, one "
    "AUC per deterministic A/B cohort — the window is PARTITIONED by "
    "cohort, and its input is the distinct-score aggregate (bounded "
    "by score cardinality, not event count). At 100 TB: the same two "
    "hash aggregates; if raw score cardinality itself explodes, "
    "pre-bucket scores to fixed-width bins (the standard sorted-AUC "
    "approximation) without changing this plan.",
)
def q_eval_auc_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # NULL scores are dropped on BOTH sides: a NULL has no rank, and the
    # engines disagree on NULL sort position (Spark ASC puts NULLs
    # first, DuckDB last), so leaving them in would silently reorder the
    # cumulative neg_below and diverge the AUC.
    e = e.filter(F.col("value").isNotNull())
    labeled = e.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("cohort"),
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = labeled.groupBy("cohort", "score").agg(
        F.sum("y").cast("bigint").alias("p"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("neg"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.select(
        "cohort",
        "p",
        "neg",
        (F.sum("neg").over(w) - F.col("neg")).cast("bigint").alias("neg_below"),
    )
    a = c.groupBy("cohort").agg(
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("neg_below") + F.col("neg")))
        .cast("bigint")
        .alias("num2"),
    )
    return a.select(
        "cohort",
        "n_pos",
        "n_neg",
        F.round(
            F.col("num2").cast("double") / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    ).orderBy("cohort")


# ----------------------------------------------- differential privacy
DP_EPSILON = 1.0  # Laplace scale b = sensitivity/epsilon = 1/1.0
DP_SEED = "dp1"


@register(
    "dp_noisy_group_counts",
    oracle=f"""
    WITH g AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source
    ),
    u AS (
      SELECT lang, source, n,
             (CAST({_md5_int8_sql(f"'{DP_SEED}|' || lang || '|' || source")}
                   % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS uu
      FROM g
    )
    SELECT lang, source,
           round(n - sign(uu - 0.5) * ln(1 - 2 * abs(uu - 0.5)), 3)
             AS noisy_n
    FROM u ORDER BY lang ASC, source ASC
    """,
    doc="Epsilon-differentially-private group counts (epsilon=1): each "
    "(lang, source) count is released with Laplace(1/epsilon) noise "
    "drawn by INVERSE-CDF from a SEEDED PORTABLE uniform — md5 of "
    "'seed|group key' folded to a bigint, mapped to the open unit "
    "interval (+0.5 offset keeps u away from {0,1} so ln() stays "
    "finite; worst case |noise| = ln(1e6) ~ 13.8). Seeded noise makes "
    "the release reproducible and lets DuckDB derive the bit-"
    "identical value from the same integer inputs, so the catalog's "
    "hash gate certifies a DP mechanism end to end — the same "
    "engine-portability trick as sample_hash_based, applied to "
    "privacy. True counts never appear in the output. Plan: one "
    "partial->final hash aggregate plus per-row scalar math — "
    "map-parallel at any scale; the per-group noise derives from the "
    "group KEY, not row data, so re-partitioning cannot change the "
    "release.",
)
def q_dp_noisy_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    key = F.concat(
        F.lit(f"{DP_SEED}|"), F.col("lang"), F.lit("|"), F.col("source")
    )
    uu = _seeded_uniform(key)
    noise = F.signum(uu - 0.5) * F.log(1 - 2 * F.abs(uu - 0.5))
    return (
        g.select(
            "lang",
            "source",
            F.round(F.col("n") - noise, 3).alias("noisy_n"),
        )
        .orderBy(F.col("lang").asc(), F.col("source").asc())
    )


# ------------------------------------------- sequence pattern matching
# One lowercase letter per event type: signup/error/click/view/purchase
# have distinct initials, so substr(event_type, 1, 1) is injective.
FUNNEL_PATTERN = "v[cs]*p"  # view -> purchase with no error/click-away


@register(
    "seq_pattern_funnel",
    oracle=f"""
    WITH m AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                       < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_s
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS sid
      FROM m
    ),
    seqs AS (
      SELECT user_id, sid,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id, sid, seq,
           regexp_extract(seq, '{FUNNEL_PATTERN}', 0) AS funnel_hit,
           CASE WHEN regexp_matches(seq, '{FUNNEL_PATTERN}')
                THEN 1 ELSE 0 END AS converted
    FROM seqs
    ORDER BY user_id ASC, sid ASC
    """,
    doc="MATCH_RECOGNIZE-style sequence pattern matching: sessionize "
    "(identical 30-min-gap algebra to session_top_paths, event_id "
    "tiebreaks everywhere), render each session as a compact event-"
    "initial string in exact event-time order, then run a REGEX over "
    "the sequence — here 'v[cs]*p': a view leading to a purchase "
    "with only clicks/signups between (an error aborts the funnel). "
    "The regex engine is the row-level pattern language SQL gets via "
    "MATCH_RECOGNIZE (Trino/Flink CEP); encoding sessions as strings "
    "turns arbitrary event-sequence motifs into one vectorized "
    "regexp_extract, JVM-side, no UDF. Matched substring AND the "
    "boolean verdict are both surfaced. Plan: the sessionization "
    "window (sort rides the user_id exchange), one per-session "
    "ordered agg (array_sort inside the buffer, bounded by session "
    "length), then map-only regex. Session strings are gap-bounded "
    "(~tens of events), never corpus-length. Same two-shuffle plan "
    "at 100 TB.",
)
def q_seq_pattern_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _sessionized_events(load_table(spark, sf_dir, "events"))
    seqs = s.groupBy("user_id", "sid").agg(
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, "
                "substring(event_type, 1, 1) AS letter))), x -> x.letter)"
            ),
            "",
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        "sid",
        "seq",
        F.regexp_extract("seq", FUNNEL_PATTERN, 0).alias("funnel_hit"),
        F.when(F.col("seq").rlike(FUNNEL_PATTERN), 1).otherwise(0).alias("converted"),
    ).orderBy(F.col("user_id").asc(), F.col("sid").asc())


# ------------------------------------------------- portable HyperLogLog
# m = 2^8 = 256 registers (standard error 1.04/sqrt(256) ~ 6.5%); the
# 60-bit hash is the first 15 md5 hex digits so BOTH engines derive
# identical registers. alpha_m evaluated once here and inlined as the
# same double literal into both plans.
HLL_M = 256
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
_TWO53 = 1 << 53


def _md5_int15_sql(expr: str) -> str:
    """First 15 hex digits of md5(expr) as a BIGINT (60 bits) — DuckDB
    twin of Spark's conv(substring(md5(x),1,15),16,10)."""
    from .text import _md5_int_sql

    return _md5_int_sql(expr, 15)


@register(
    "sketch_hll_portable",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             {_md5_int15_sql("CAST(event_id AS VARCHAR)")} AS hv
      FROM events
    ),
    rt AS (
      SELECT event_type, hv % {HLL_M} AS bucket,
             max(CASE WHEN hv // {HLL_M} = 0 THEN 53
                      ELSE 53 - length(bin(hv // {HLL_M})) END) AS m
      FROM h GROUP BY event_type, bucket
    ),
    -- '__all__' = cell-wise max MERGE of the per-type registers (the
    -- sketch property: union of streams == max of registers), never a
    -- second hash pass over the corpus
    r AS (
      SELECT event_type, bucket, m FROM rt
      UNION ALL
      SELECT '__all__', bucket, max(m) FROM rt GROUP BY bucket
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS np,
             CAST(sum(CAST(1 AS BIGINT) << (53 - m)) AS BIGINT) AS sp
      FROM r GROUP BY event_type
    ),
    est AS (
      SELECT event_type, ({HLL_M} - np) AS v,
             CAST({HLL_ALPHA!r} AS DOUBLE) * CAST({HLL_M * HLL_M} AS DOUBLE)
               * CAST({_TWO53} AS DOUBLE)
               / CAST(({HLL_M} - np) * CAST({_TWO53} AS BIGINT) + sp
                      AS DOUBLE) AS raw
      FROM s
    ),
    x AS (
      SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
      UNION ALL
      SELECT '__all__', CAST(count(DISTINCT event_id) AS BIGINT) FROM events
    )
    SELECT x.event_type, x.n_exact,
           round(CASE WHEN raw <= {2.5 * HLL_M!r} AND v > 0
                      THEN {HLL_M}.0 * ln({HLL_M}.0 / v)
                      ELSE raw END, 1) AS hll_est
    FROM est JOIN x USING (event_type)
    ORDER BY event_type ASC
    """,
    doc="PORTABLE HyperLogLog (Flajolet et al. 2007) — the distinct-count "
    "sketch rebuilt on an md5 hash family so the whole estimator "
    "(registers, harmonic mean, linear-counting fallback) is hash-"
    "certified against DuckDB computing the SAME registers — upgrading "
    "the HLL family from sketch_hll_mergeable's rows-only status "
    "(engine-internal sketch bytes) to full value parity. Register "
    "math is integer-exact end to end: bucket = low 8 hash bits, "
    "rho = leading-zero rank via length(bin(w)) (no floating log2), "
    "and the harmonic denominator accumulates as Σ 2^(53-M_j) in "
    "BIGINT units — the one double division happens after both "
    "engines hold identical integers. Registers merge by cell-wise "
    "max, which is exactly how the '__all__' row is produced (a "
    "union-of-streams sketch, not a re-scan). Exact counts ride "
    "alongside so the error is visible in the certified output. At "
    "100 TB: per-partition register sets (256 rows each) merge "
    "associatively — the same partial->final shape as every sketch "
    "here, with O(m) state per group.",
)
def q_sketch_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    h = e.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    w = F.expr(f"hv div {HLL_M}")
    rho = F.when(w == 0, F.lit(53)).otherwise(53 - F.length(F.bin(w)))
    rt = h.groupBy("event_type", (F.col("hv") % HLL_M).alias("bucket")).agg(
        F.max(rho).alias("m")
    )
    # '__all__' is a register MERGE (cell-wise max over the per-type
    # registers) — the corpus is hashed exactly once
    r = rt.unionAll(
        rt.groupBy("bucket").agg(
            F.lit("__all__").alias("event_type"), F.max("m").alias("m")
        ).select("event_type", "bucket", "m")
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("np"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 53 - m)"))
        .cast("bigint")
        .alias("sp"),
    )
    raw = (
        F.lit(HLL_ALPHA)
        * float(HLL_M * HLL_M)
        * float(_TWO53)
        / ((HLL_M - F.col("np")) * F.lit(_TWO53) + F.col("sp")).cast("double")
    )
    v = HLL_M - F.col("np")
    est = s.select(
        "event_type",
        F.round(
            F.when((raw <= 2.5 * HLL_M) & (v > 0), HLL_M * F.log(HLL_M / v.cast("double")))
            .otherwise(raw),
            1,
        ).alias("hll_est"),
    )
    x = e.groupBy("event_type").agg(
        F.countDistinct("event_id").cast("bigint").alias("n_exact")
    ).unionAll(
        e.agg(
            F.lit("__all__").alias("event_type"),
            F.countDistinct("event_id").cast("bigint").alias("n_exact"),
        )
    )
    return (
        x.join(est, "event_type")
        .select("event_type", "n_exact", "hll_est")
        .orderBy(F.col("event_type").asc())
    )


# ------------------------------------------------ weighted order stats
@register(
    "weighted_median_price",
    oracle="""
    WITH g AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS wt
      FROM lineitem GROUP BY l_returnflag, price
    ),
    c AS (
      SELECT l_returnflag, price, wt,
             CAST(sum(wt) OVER (
               PARTITION BY l_returnflag ORDER BY price
               ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS cum,
             CAST(sum(wt) OVER (PARTITION BY l_returnflag) AS BIGINT)
               AS total
      FROM g
    )
    SELECT l_returnflag, min(price) AS weighted_median,
           max(total) AS total_weight
    FROM c WHERE 2 * cum >= total
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC
    """,
    doc="Weighted median — order statistics where each row carries an "
    "integer weight (price weighted by quantity: 'the price at which "
    "half the UNITS ship', not half the line items — what percentile_"
    "exact cannot express). The decision rule is integer-exact: "
    "quantities enter as floor(quantity) BIGINTs (explicit floor on "
    "both engines — Spark's double->bigint cast truncates while "
    "DuckDB's rounds, so a bare cast is engine-dependent), the "
    "cumulative and total weights are BIGINT window sums over the "
    "per-distinct-price aggregate, and the median is min(price) where "
    "2*cum >= total — no floating accumulation anywhere, so both "
    "engines pick the identical row even at tie boundaries. Plan: one "
    "hash aggregate to distinct prices (bounded by price cardinality), "
    "one per-flag window (sort rides the l_returnflag exchange), one "
    "filter+min. At 100 TB swap the exact pass for the histogram-CDF "
    "route (median_histogram_cdf) once price cardinality itself "
    "explodes; the weighted rule is unchanged.",
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # floor() explicitly on BOTH sides: Spark CAST(double AS BIGINT)
    # truncates toward zero while DuckDB rounds, so a bare cast only
    # agrees while quantities happen to be whole-valued
    g = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.sum(F.floor("l_quantity").cast("bigint")).cast("bigint").alias("wt"))
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "price",
        "wt",
        F.sum("wt").over(wcum).cast("bigint").alias("cum"),
        F.sum("wt").over(wall).cast("bigint").alias("total"),
    )
    return (
        c.where(2 * F.col("cum") >= F.col("total"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median"),
            F.max("total").alias("total_weight"),
        )
        .orderBy(F.col("l_returnflag").asc())
    )


# ----------------------------------------------------- gaps and islands
@register(
    "user_activity_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    a AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS anchor
      FROM d
    )
    SELECT user_id, min(day) AS start_day, max(day) AS end_day,
           CAST(count(*) AS BIGINT) AS n_days
    FROM a GROUP BY user_id, anchor
    ORDER BY user_id ASC, start_day ASC
    """,
    doc="Gaps-and-islands — maximal runs of CONSECUTIVE active days per "
    "user, the calendar-granularity complement to 30-min-gap "
    "sessionization (streaks, uptime ranges, contiguous coverage "
    "audits all reduce to this). The classic integer trick: within an "
    "island, day minus row_number is CONSTANT, so one dense "
    "per-user window plus a (user, anchor) aggregate finds every "
    "island with no self-join and no iteration — day arithmetic stays "
    "in exact DATE/INT space. Plan: distinct to user-days first "
    "(bounded by users x active days, far smaller than the event "
    "stream), then window and aggregate share the user_id exchange. "
    "Two shuffles at any scale.",
)
def q_user_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    d = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    a = d.select(
        "user_id",
        "day",
        F.date_sub(
            F.col("day"),
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("day"))
            .cast("int"),
        ).alias("anchor"),
    )
    return (
        a.groupBy("user_id", "anchor")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .drop("anchor")
        .select("user_id", "start_day", "end_day", "n_days")
        .orderBy(F.col("user_id").asc(), F.col("start_day").asc())
    )


# ------------------------------------------------- ranking evaluation
NDCG_K = 10
# 1/log2(rank+1) precomputed ONCE here and inlined as identical double
# literals into both plans — neither engine ever calls log2, so there is
# no libm ULP surface in the discount table.
_NDCG_DISC = [1 / math.log2(i + 1) for i in range(1, NDCG_K + 1)]
_DISC_SQL = "[" + ", ".join(repr(x) for x in _NDCG_DISC) + "]"
_DISC_SPARK = "array(" + ", ".join(f"{x!r}D" for x in _NDCG_DISC) + ")"
# graded relevance: purchase=3, click=2, view=1, rest 0; gain = 2^rel-1
_REL_SQL = (
    "CASE event_type WHEN 'purchase' THEN 7.0 WHEN 'click' THEN 3.0 "
    "WHEN 'view' THEN 1.0 ELSE 0.0 END"
)


@register(
    "eval_ndcg_at_k",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id,
             CAST({_REL_SQL} AS DOUBLE) AS gain,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY value DESC, event_id ASC
             ) AS INT) AS rn
      FROM events
    ),
    lists AS (
      SELECT user_id,
             list(gain * ({_DISC_SQL})[rn] ORDER BY rn ASC)
               FILTER (WHERE rn <= {NDCG_K}) AS dterms,
             (list(gain ORDER BY gain DESC))[1:{NDCG_K}] AS gdesc,
             CAST(count(*) FILTER (WHERE rn <= {NDCG_K}) AS BIGINT)
               AS n_ranked
      FROM ranked GROUP BY user_id
    ),
    folded AS (
      SELECT user_id, n_ranked,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), dterms),
                         (a, x) -> a + x) AS dcg,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, length(gdesc) + 1),
                              i -> gdesc[i] * ({_DISC_SQL})[i])),
               (a, x) -> a + x) AS idcg
      FROM lists
    )
    SELECT user_id, n_ranked,
           round(dcg, 6) AS dcg,
           round(idcg, 6) AS idcg,
           CASE WHEN idcg > 0 THEN round(dcg / idcg, 6) ELSE 0.0 END
             AS ndcg
    FROM folded ORDER BY user_id ASC
    """,
    doc="nDCG@10 ranking evaluation — the retrieval/recommendation "
    "metric (Järvelin & Kekäläinen 2002) the AUC entry cannot express "
    "(AUC scores a global ordering; nDCG scores per-query TOP-K "
    "position quality with graded relevance). Here each user's events "
    "ranked by value are scored against graded event-type relevance "
    "(purchase>click>view). Float determinism is engineered, not "
    "hoped for: the discount table 1/log2(r+1) is precomputed once "
    "and inlined as identical literals (no libm log2 in either "
    "plan), and BOTH fold sums (DCG over rank order, IDCG over "
    "gain-desc order) run as explicit LEFT FOLDS over ordered lists, "
    "so the two engines add the same doubles in the same order — "
    "bit-identical before the final round. The IDEAL list is the "
    "top-K of the user's FULL gain multiset, not of the retrieved "
    "top-K — a relevant item ranked below the cutoff raises IDCG and "
    "correctly drags nDCG below 1. Plan: one per-user window + one "
    "per-user agg sharing the exchange; per-group agg state is the "
    "user's gain list (bounded by per-query candidate count — cap "
    "candidates upstream when that is unbounded). Same two-step plan "
    "per query group at 100 TB.",
)
def q_eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    ranked = e.select(
        "user_id",
        F.expr(_REL_SQL).cast("double").alias("gain"),
        F.row_number().over(w).cast("int").alias("rn"),
    )
    # the DCG term exists only for retrieved (rn <= K) rows; the IDEAL
    # list draws from the user's FULL gain multiset (an item ranked
    # below the cutoff must still raise IDCG and so lower nDCG)
    term = ranked.withColumn(
        "dterm",
        F.when(
            F.col("rn") <= NDCG_K,
            F.col("gain") * F.element_at(F.expr(_DISC_SPARK), F.col("rn")),
        ),
    )
    lists = term.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(CASE WHEN rn <= "
            f"{NDCG_K} THEN struct(rn, dterm) END)), x -> x.dterm)"
        ).alias("dterms"),
        # the ideal list only needs PER-GAIN COUNTS (gains are the
        # closed set {7, 3, 1, 0}): the sorted-desc ideal prefix is 7s,
        # then 3s, then 1s, reconstructed below via array_repeat —
        # per-group agg state is 3 counters, never the user's full gain
        # list (the oracle keeps the explicit sorted-slice form; the
        # folded values are bit-identical)
        F.count(F.when(F.col("gain") == 7.0, 1)).alias("c7"),
        F.count(F.when(F.col("gain") == 3.0, 1)).alias("c3"),
        F.count(F.when(F.col("gain") == 1.0, 1)).alias("c1"),
        F.count(F.when(F.col("rn") <= NDCG_K, 1)).cast("bigint").alias("n_ranked"),
    )
    gdesc = (
        f"concat(array_repeat(7.0D, CAST(least(c7, {NDCG_K}) AS INT)), "
        f"array_repeat(3.0D, CAST(least(c3, {NDCG_K} - least(c7, {NDCG_K})) AS INT)), "
        f"array_repeat(1.0D, CAST(least(c1, {NDCG_K} - least(c7, {NDCG_K}) "
        f"- least(c3, {NDCG_K} - least(c7, {NDCG_K}))) AS INT)))"
    )
    folded = lists.select(
        "user_id",
        "n_ranked",
        F.expr("aggregate(dterms, 0.0D, (a, x) -> a + x)").alias("dcg"),
        F.expr(
            # guard the empty ideal list: sequence(1, 0) counts DOWN in
            # Spark, so an all-zero-relevance user would index into an
            # empty array instead of folding over nothing
            f"CASE WHEN size({gdesc}) = 0 THEN 0.0D ELSE "
            f"aggregate(transform(sequence(1, size({gdesc})), "
            f"i -> element_at({gdesc}, i) * element_at({_DISC_SPARK}, i)), "
            "0.0D, (a, x) -> a + x) END"
        ).alias("idcg"),
    )
    return folded.select(
        "user_id",
        "n_ranked",
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.when(F.col("idcg") > 0, F.round(F.col("dcg") / F.col("idcg"), 6))
        .otherwise(0.0)
        .alias("ndcg"),
    ).orderBy(F.col("user_id").asc())


# -------------------------------------------- probability calibration
# fixed logistic score: p = sigmoid((value - 35) / 20), centered near
# the value median so the 10 fixed-width bins all receive mass
_CALIB_P_SQL = "1.0 / (1.0 + exp(-(value - 35.0) / 20.0))"


@register(
    "eval_calibration_bins",
    oracle=f"""
    WITH s AS (
      SELECT round({_CALIB_P_SQL}, 6) AS p6,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    t AS (
      SELECT CAST(least(floor(p6 * 10), 9) AS INT) AS bin, y,
             CAST(round(p6 * 1000000) AS BIGINT) AS pm,
             CAST(round((p6 - y) * (p6 - y) * 1000000000000) AS BIGINT)
               AS sq
      FROM s
    ),
    b AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pm) AS BIGINT) AS sum_pm,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(sq) AS BIGINT) AS sum_sq
      FROM t GROUP BY bin
    )
    SELECT bin, n,
           round(CAST(sum_pm AS DOUBLE) / 1000000.0 / n, 6) AS mean_p,
           round(CAST(n_pos AS DOUBLE) / n, 6) AS frac_pos,
           round(CAST(sum_sq AS DOUBLE) / 1000000000000.0 / n, 6)
             AS brier
    FROM b ORDER BY bin ASC
    """,
    doc="Probability-calibration reliability diagram + per-bin Brier "
    "score — the companion metric to AUC (AUC measures ranking; "
    "calibration measures whether predicted probabilities MEAN what "
    "they say: in a well-calibrated bin, mean_p ~ frac_pos). The "
    "probability is a fixed logistic score of the event value "
    "against the purchase label; bins are FIXED-WIDTH deciles of p "
    "(no ntile, so no global sort). Float discipline: p is rounded "
    "to 6dp immediately after the one exp() call, then every "
    "aggregate runs in scaled-INTEGER units (p*1e6 and squared-error"
    "*1e12 as BIGINT) — sums are exact and order-independent, and "
    "the only doubles that cross engines are identical per-row "
    "values. One partial->final hash aggregate on a 10-value key; "
    "map-parallel at any scale.",
)
def q_eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = e.select(
        F.round(F.expr(_CALIB_P_SQL), 6).alias("p6"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    t = s.select(
        F.least(F.floor(F.col("p6") * 10), F.lit(9)).cast("int").alias("bin"),
        "y",
        F.round(F.col("p6") * 1000000, 0).cast("bigint").alias("pm"),
        F.round(
            (F.col("p6") - F.col("y")) * (F.col("p6") - F.col("y")) * 1e12, 0
        )
        .cast("bigint")
        .alias("sq"),
    )
    b = t.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("pm").cast("bigint").alias("sum_pm"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum("sq").cast("bigint").alias("sum_sq"),
    )
    return b.select(
        "bin",
        "n",
        F.round(F.col("sum_pm").cast("double") / 1000000.0 / F.col("n"), 6).alias(
            "mean_p"
        ),
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6).alias("frac_pos"),
        F.round(
            F.col("sum_sq").cast("double") / 1e12 / F.col("n"), 6
        ).alias("brier"),
    ).orderBy(F.col("bin").asc())


# ------------------------------------------- graph degree audit
@register(
    "graph_degree_powerlaw",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING count(*) >= {KHOP_MIN_SUPPORT}
    ),
    e AS (SELECT pa AS s, pb AS t FROM p UNION ALL SELECT pb, pa FROM p),
    deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS degree
            FROM e GROUP BY s),
    h AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tail,
             CAST(sum(CAST(round(ln(CAST(degree AS DOUBLE) / 1.5), 9)
                           AS DECIMAL(28,9)) ) AS DECIMAL(38,9)) AS slog
      FROM deg WHERE degree >= 2
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_edges,
           (SELECT max(degree) FROM deg) AS max_degree,
           n_tail,
           round(1.0 + CAST(n_tail AS DOUBLE) / CAST(slog AS DOUBLE), 4)
             AS alpha_hill
    FROM h
    """,
    doc="Graph degree audit with a power-law tail fit — the health "
    "check run before any graph algorithm at scale (a heavy-tailed "
    "degree distribution predicts hot-key skew in every neighbor "
    "join; PageRank/label-prop docs assume it). Degrees come from "
    "one count on the support-thresholded co-purchase edge list; the "
    "tail exponent is the discrete Hill/Clauset MLE alpha = 1 + "
    "n/Σln(d/(dmin-0.5)) over nodes with degree >= dmin=2. Float "
    "discipline: each ln term is rounded once to 9dp and accumulated "
    "as DECIMAL — the sum is exact and partition-order-independent, "
    "so both engines divide identical numbers (same pattern as the "
    "calibration bins' scaled integers, applied to logs). Plan: the "
    "certified basket-bounded pair join, one degree aggregate, one "
    "1-row summary — nothing quadratic, nothing iterative.",
)
def q_graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 replan: the support-thresholded pair join was re-derived for
    # each of THREE 1-row aggregates (Hill tail, node totals, edge
    # count) and the tail/total split re-walked deg twice more. One
    # eager checkpoint of the pair frame + ONE conditional aggregate
    # over deg replaces all of it: n_edges = sum(degree) div 2 exactly
    # (every pair contributes one to each endpoint's degree), the tail
    # statistics become filtered aggregates over the same rows, and the
    # two 1-row crossJoins disappear. Values bit-identical (integer
    # identities; the decimal tail sum folds the same multiset).
    p = (
        _copurchase_pairs(spark, sf_dir, KHOP_MIN_SUPPORT)
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )
    e = p.select(F.col("pa").alias("s")).unionAll(p.select(F.col("pb").alias("s")))
    deg = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    tail = F.col("degree") >= 2
    one = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.max("degree").alias("max_degree"),
        F.sum("degree").alias("sdeg"),
        F.count(F.when(tail, F.lit(1))).cast("bigint").alias("n_tail"),
        F.sum(
            F.when(
                tail,
                F.round(F.log(F.col("degree").cast("double") / 1.5), 9).cast(
                    "decimal(28,9)"
                ),
            )
        )
        .cast("decimal(38,9)")
        .alias("slog"),
    )
    return one.select(
        "n_nodes",
        F.expr("sdeg div 2").cast("bigint").alias("n_edges"),
        "max_degree",
        "n_tail",
        F.round(
            1.0 + F.col("n_tail").cast("double") / F.col("slog").cast("double"),
            4,
        ).alias("alpha_hill"),
    )


# ------------------------------------------- cross-source vocabulary
@register(
    "source_vocab_overlap",
    oracle=f"""
    WITH st AS (
      SELECT DISTINCT source, tok FROM (
        SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
      GROUP BY source_a, source_b
    )
    SELECT i.source_a, i.source_b, i.n_inter,
           round(CAST(i.n_inter AS DOUBLE)
                 / (sa.n + sb.n - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.source = i.source_a
    JOIN sz sb ON sb.source = i.source_b
    ORDER BY jaccard DESC, source_a ASC, source_b ASC
    LIMIT 30
    """,
    doc="Cross-source vocabulary overlap — the corpus-survey matrix run "
    "before mixing data sources (high token-set Jaccard between two "
    "crawls predicts heavy cross-source duplication; the number that "
    "decides whether dedup must run globally or per-source). "
    "Structure: dedup to (source, token) FIRST (vocab-cardinality per "
    "source, Zipf-bounded), then a token-keyed self-join — the pair "
    "stream per token is (sources containing it choose 2), bounded by "
    "the SOURCE count (~20), never by corpus size; set sizes come "
    "from one count and Jaccard is pure arithmetic on three bigints. "
    "The same inverted-index-join shape as sim_sparse_tfidf_pairs "
    "with the document axis collapsed to sources. At 100 TB the "
    "(source, token) dedup is the only corpus-sized pass; everything "
    "after runs on vocabularies.",
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import tokens_col

    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select("source", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    sz = st.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = st.alias("a"), st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(
            F.col("jaccard").desc(), F.col("source_a").asc(), F.col("source_b").asc()
        )
        .limit(30)
    )


# --------------------------------------------- quantile normalization
@register(
    "quantile_normalize_groups",
    oracle="""
    WITH g AS (
      SELECT o_orderkey, o_orderpriority AS grp, o_totalprice AS price,
             CAST(row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS r,
             CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
               AS n_g
      FROM orders
    ),
    ranked AS (
      SELECT o_orderkey, grp, price,
             CASE WHEN n_g > 1
                  THEN CAST(r - 1 AS DOUBLE) / (n_g - 1)
                  ELSE 0.5 END AS p
      FROM g
    ),
    ref AS (
      SELECT o_totalprice AS ref_price,
             CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                  AS BIGINT) AS idx,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM orders
    ),
    mapped AS (
      SELECT o_orderkey, grp, price,
             CAST(1 + round(p * (
               (SELECT max(n) FROM ref) - 1)) AS BIGINT) AS idx
      FROM ranked
    )
    SELECT m.o_orderkey, m.grp, m.price, r.ref_price AS normalized_price
    FROM mapped m JOIN ref r ON m.idx = r.idx
    ORDER BY m.o_orderkey ASC
    """,
    doc="Quantile normalization — map every group's value distribution "
    "onto the GLOBAL reference distribution (the cross-batch feature-"
    "alignment transform from bioinformatics/feature-store practice: "
    "after it, every o_orderpriority group has identical marginal "
    "price distribution, so downstream models can't learn the group "
    "from the feature's scale). Rule is rank-arithmetic only: "
    "within-group percent p = (r-1)/(n_g-1) from integer ranks with "
    "full (value, key) tiebreaks, reference index = 1+round(p*(N-1)) "
    "— both engines derive identical doubles from identical integers, "
    "and the final lookup is an integer equi-join into the globally "
    "ranked reference. The global row_number is the one scale caveat: "
    "at 100 TB swap the exact reference rank for the equi-depth "
    "histogram table (quantiles_histogram_cdf) — the mapping rule is "
    "unchanged. Per-group windows ride the group exchange.",
)
def q_quantile_normalize_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wg = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    g = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("price"),
        F.row_number().over(wg).cast("bigint").alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_orderpriority"))
        .cast("bigint")
        .alias("n_g"),
    )
    ranked = g.select(
        "o_orderkey",
        "grp",
        "price",
        F.when(
            F.col("n_g") > 1,
            (F.col("r") - 1).cast("double") / (F.col("n_g") - 1),
        )
        .otherwise(0.5)
        .alias("p"),
    )
    wr = Window.orderBy("o_totalprice", "o_orderkey")
    ref = o.select(
        F.col("o_totalprice").alias("ref_price"),
        F.row_number().over(wr).cast("bigint").alias("idx"),
    )
    n = o.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    mapped = ranked.crossJoin(F.broadcast(n)).select(
        "o_orderkey",
        "grp",
        "price",
        (1 + F.round(F.col("p") * (F.col("n") - 1), 0)).cast("bigint").alias("idx"),
    )
    return (
        mapped.join(ref, "idx")
        .select(
            "o_orderkey",
            "grp",
            "price",
            F.col("ref_price").alias("normalized_price"),
        )
        .orderBy(F.col("o_orderkey").asc())
    )


# ------------------------------------------------ bootstrap inference
BOOT_B = 16  # bootstrap replicas
BOOT_SEED = "bb1"


@register(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH wtd AS (
      SELECT grp, b,
             CAST(round(-ln((CAST({_md5_int8_sql(
                 f"'{BOOT_SEED}|' || CAST(b AS VARCHAR) || '|' || CAST(o_orderkey AS VARCHAR)"
             )} % 1000000 AS DOUBLE) + 0.5) / 1000000.0), 9)
               AS DECIMAL(28,9)) AS w,
             price
      FROM (SELECT o.o_orderpriority AS grp, o.o_totalprice AS price,
                   o.o_orderkey, b.b
            FROM orders o, (SELECT unnest(range(0, {BOOT_B})) AS b) b)
    ),
    means AS (
      SELECT grp, b,
             round(CAST(sum(CAST(round(CAST(w AS DOUBLE) * price, 6)
                                 AS DECIMAL(38,6))) AS DOUBLE)
                   / CAST(CAST(sum(w) AS DECIMAL(38,9)) AS DOUBLE), 4)
               AS m
      FROM wtd GROUP BY grp, b
    ),
    ranked AS (
      SELECT grp, m,
             CAST(row_number() OVER (PARTITION BY grp ORDER BY m ASC, b ASC)
                  AS INT) AS r
      FROM means
    )
    SELECT grp,
           min(CASE WHEN r = 2 THEN m END) AS ci_lo,
           min(CASE WHEN r = {BOOT_B - 1} THEN m END) AS ci_hi
    FROM ranked GROUP BY grp
    ORDER BY grp ASC
    """,
    doc="Bootstrap confidence intervals for the group mean WITHOUT "
    "resampling passes — the Bayesian bootstrap (Rubin 1981): each of "
    "16 replicas reweights every row by an Exponential(1) draw and "
    "takes the weighted mean; the replicate spread estimates the "
    "sampling distribution. The draws are SEEDED AND PORTABLE "
    "(-ln(u) with u from md5(seed|replica|key) — the DP operator's "
    "inverse-CDF trick applied to inference), so the whole CI is "
    "value-certified, and all 16 replicas ride ONE scan: explode x16, "
    "one (group, replica) aggregate with weights and weighted values "
    "accumulated as rounded DECIMALs (exact, order-independent), one "
    "tiny rank over 16 means per group. CI bounds are the 2nd/15th "
    "order statistics (~±6% tails). At 100 TB: the x16 expansion is "
    "map-side and the aggregate is partial->final — the same shape as "
    "any rollup; B scales linearly and independently of data size.",
)
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    rep = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("price"),
        "o_orderkey",
        F.explode(F.array([F.lit(i) for i in range(BOOT_B)])).alias("b"),
    )
    key = F.concat(
        F.lit(f"{BOOT_SEED}|"),
        F.col("b").cast("string"),
        F.lit("|"),
        F.col("o_orderkey").cast("string"),
    )
    u = _seeded_uniform(key)
    wtd = rep.select(
        "grp",
        "b",
        F.round(-F.log(u), 9).cast("decimal(28,9)").alias("w"),
        "price",
    )
    means = wtd.groupBy("grp", "b").agg(
        F.round(
            F.sum(
                F.round(F.col("w").cast("double") * F.col("price"), 6).cast(
                    "decimal(38,6)"
                )
            ).cast("double")
            / F.sum("w").cast("decimal(38,9)").cast("double"),
            4,
        ).alias("m")
    )
    ranked = means.select(
        "grp",
        "m",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy(F.col("m").asc(), F.col("b").asc()))
        .cast("int")
        .alias("r"),
    )
    return (
        ranked.groupBy("grp")
        .agg(
            F.min(F.when(F.col("r") == 2, F.col("m"))).alias("ci_lo"),
            F.min(F.when(F.col("r") == BOOT_B - 1, F.col("m"))).alias("ci_hi"),
        )
        .orderBy(F.col("grp").asc())
    )


# ------------------------------------------------- time-decay scoring
DECAY_HALF_DAYS = 180.0


@register(
    "decay_weighted_revenue",
    oracle=f"""
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
    w AS (
      SELECT o.o_custkey,
             CAST(round(
               exp(-CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                   CAST(a.mx AS DATE)) AS DOUBLE)
                   / {DECAY_HALF_DAYS!r})
               * o.o_totalprice, 6) AS DECIMAL(38,6)) AS wx
      FROM orders o, anchor a
    )
    SELECT o_custkey,
           round(CAST(sum(wx) AS DOUBLE), 2) AS decayed_revenue
    FROM w GROUP BY o_custkey
    ORDER BY decayed_revenue DESC, o_custkey ASC
    LIMIT 20
    """,
    doc="Exponential time-decay revenue scoring — the recency weighting "
    "recsys and churn models apply to every monetary feature (a "
    "purchase 6 months ago counts 1/e of one today; cohort_ltv_curve "
    "is the undecayed complement). The decay age is an exact integer "
    "day difference against the broadcast 1-row max-date anchor, so "
    "exp() receives identical doubles in both engines; each weighted "
    "term rounds once to 6dp and accumulates as DECIMAL — exact, "
    "order-independent sums (the calibration-bins discipline). Plan: "
    "1-row anchor broadcast, map-side weight, one partial->final "
    "aggregate on the customer key, TakeOrdered top-20. The anchor "
    "makes the score reproducible for a fixed dataset; production "
    "passes 'now' explicitly.",
)
def q_decay_weighted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    w = o.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.round(
            F.exp(
                -F.datediff(F.col("mx").cast("date"), F.col("o_orderdate").cast("date"))
                .cast("double")
                / DECAY_HALF_DAYS
            )
            * F.col("o_totalprice"),
            6,
        )
        .cast("decimal(38,6)")
        .alias("wx"),
    )
    return (
        w.groupBy("o_custkey")
        .agg(F.round(F.sum("wx").cast("double"), 2).alias("decayed_revenue"))
        .orderBy(F.col("decayed_revenue").desc(), F.col("o_custkey").asc())
        .limit(20)
    )


# -------------------------------------- weighted shortest paths (min-plus)
@register(
    "graph_minplus_distance",
    oracle=f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(101 - least(count(*), 100) AS BIGINT) AS w
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING count(*) >= {KHOP_MIN_SUPPORT}
    ),
    e AS (SELECT pa AS s, pb AS t, w FROM p
          UNION ALL SELECT pb, pa, w FROM p),
    seed AS (SELECT min(s) AS node FROM e),
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seed),
    d1 AS (
      SELECT t AS node, min(d0.dist + e.w) AS dist
      FROM e JOIN d0 ON e.s = d0.node GROUP BY t
      UNION ALL SELECT node, dist FROM d0
    ),
    d1m AS (SELECT node, min(dist) AS dist FROM d1 GROUP BY node),
    d2 AS (
      SELECT t AS node, min(d1m.dist + e.w) AS dist
      FROM e JOIN d1m ON e.s = d1m.node GROUP BY t
      UNION ALL SELECT node, dist FROM d1m
    ),
    d2m AS (SELECT node, min(dist) AS dist FROM d2 GROUP BY node),
    d3 AS (
      SELECT t AS node, min(d2m.dist + e.w) AS dist
      FROM e JOIN d2m ON e.s = d2m.node GROUP BY t
      UNION ALL SELECT node, dist FROM d2m
    )
    SELECT node, CAST(min(dist) AS BIGINT) AS dist
    FROM d3 GROUP BY node
    ORDER BY dist ASC, node ASC
    """,
    doc="Weighted shortest paths by bounded min-plus relaxation "
    "(Bellman-Ford, 3 rounds) — graph_khop_reach's hop-count metric "
    "upgraded to a WEIGHTED distance: edge cost 101-min(support,100) "
    "makes strong co-purchase ties short, so the result ranks parts "
    "by affinity-distance from the seed, and a 2-hop path through "
    "strong ties can beat a direct weak edge (which hop counting "
    "cannot express). Each round is one keyed equi-join + min-"
    "aggregate — the min-plus semiring on the SAME Pregel exchange "
    "shape as PageRank (sum-times) and hash-min components (min-"
    "min); all arithmetic is BIGINT, so convergence is engine-"
    "portable. Fixed depth keeps it one Catalyst plan; unbounded "
    "diameters switch to the checkpointed loop + monotone-sum "
    "convergence guard of dedup_cluster_components.",
)
def q_graph_minplus_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, cur = _minplus_graph(spark, sf_dir)
    for _ in range(KHOP_DEPTH):
        cur = _relax_round(e, cur)
    return _by_distance(cur)


def _minplus_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Symmetric co-purchase edges (s, t, w = 101 - min(support, 100)),
    lazily checkpointed, and the seed frontier: the smallest node at
    distance 0."""
    p = _copurchase_pairs(spark, sf_dir, KHOP_MIN_SUPPORT).select(
        "pa",
        "pb",
        (101 - F.least(F.col("cnt"), F.lit(100))).cast("bigint").alias("w"),
    )
    e = p.select(
        F.col("pa").alias("s"), F.col("pb").alias("t"), "w"
    ).unionAll(p.select(F.col("pb").alias("s"), F.col("pa").alias("t"), "w"))
    e = e.localCheckpoint(eager=False)
    seed = e.agg(F.min("s").alias("node")).select(
        "node", F.lit(0).cast("bigint").alias("dist")
    )
    return e, seed


def _relax_round(e: DataFrame, cur: DataFrame) -> DataFrame:
    """One Bellman-Ford round: broadcast the (node, dist) frontier into
    the edges, take the min-plus product, keep min(new, old) per node."""
    relaxed = (
        e.join(cur.hint("broadcast"), e["s"] == cur["node"])
        .select(F.col("t").alias("node"), (cur["dist"] + e["w"]).alias("dist"))
        .groupBy("node")
        .agg(F.min("dist").alias("dist"))
    )
    return relaxed.unionAll(cur).groupBy("node").agg(F.min("dist").alias("dist"))


def _by_distance(cur: DataFrame) -> DataFrame:
    return cur.select("node", F.col("dist").cast("bigint").alias("dist")).orderBy(
        F.col("dist").asc(), F.col("node").asc()
    )


# -------------------------------------------- lagged cross-correlation
XCORR_MAX_LAG = 7


@register(
    "xcorr_daily_lags",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
                  AS BIGINT) AS x,
             CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
                  AS BIGINT) AS y
      FROM events GROUP BY day
    ),
    lagged AS (
      SELECT l.lag, a.x, b.y
      FROM daily a
      JOIN (SELECT unnest(range(0, {XCORR_MAX_LAG + 1})) AS lag) l ON true
      JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)
    ),
    m AS (
      SELECT lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM lagged GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, n,
           round((n * sxy - sx * sy)
                 / sqrt(CAST((n * sxx - sx * sx) AS DOUBLE)
                        * (n * syy - sy * sy)), 6) + 0 AS xcorr
    FROM m ORDER BY lag ASC
    """,
    doc="Lagged cross-correlation between two daily event series (does "
    "view volume predict purchase volume k days later?) — the signal-"
    "analysis primitive behind lead-indicator discovery and marketing-"
    "mix lag estimation. Pearson r at each lag 0..7 is computed from "
    "SIX integer sums (n, Σx, Σy, Σxy, Σx², Σy² — counts are BIGINT, "
    "so every moment is exact and partition-order-independent; the "
    "Welch-t trick extended to covariance); the only floating ops are "
    "the final sqrt and division. The lag alignment is an equi-join "
    "on day+k over the DAY-cardinality rollup (×8 on days, never on "
    "events). At 100 TB the daily rollup is the only corpus-sized "
    "aggregate; everything downstream is O(days × lags).",
)
def q_xcorr_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("bigint")
        .alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("y"),
    )
    a = daily.select(
        "day",
        "x",
        F.explode(
            F.array([F.lit(i) for i in range(XCORR_MAX_LAG + 1)])
        ).alias("lag"),
    )
    b = daily.select(F.col("day").alias("bday"), "y")
    lagged = a.join(
        b, F.date_add(F.col("day"), F.col("lag")) == F.col("bday")
    ).select("lag", "x", "y")
    m = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"),
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("xcorr"),
    ).orderBy(F.col("lag").asc())


# ------------------------------------------ position-based attribution
@register(
    "attribution_position_based",
    oracle="""
    WITH conv AS (
      SELECT user_id, min(ts) AS conv_ts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
      SELECT e.user_id, e.event_type,
             CAST(row_number() OVER (
               PARTITION BY e.user_id ORDER BY e.ts, e.event_id
             ) AS BIGINT) AS pos,
             CAST(count(*) OVER (PARTITION BY e.user_id) AS BIGINT) AS n
      FROM events e JOIN conv c ON e.user_id = c.user_id
      WHERE e.ts < c.conv_ts AND e.event_type <> 'purchase'
    ),
    credited AS (
      SELECT event_type,
             CAST(round(CAST(CASE
               WHEN n = 1 THEN 1.0
               WHEN n = 2 THEN 0.5
               WHEN pos = 1 OR pos = n THEN 0.4
               ELSE CAST(0.2 AS DOUBLE) / (n - 2)
             END AS DOUBLE), 9) AS DECIMAL(28,9)) AS credit
      FROM touches
    )
    SELECT event_type,
           round(CAST(sum(credit) AS DOUBLE), 4) AS total_credit
    FROM credited GROUP BY event_type
    ORDER BY event_type ASC
    """,
    doc="Position-based (U-shaped 40/20/40) multi-touch attribution — "
    "the standard complement to attribution_last_touch: the first and "
    "last touchpoints before a user's first conversion each earn 40% "
    "credit and the middle touches split the remaining 20% evenly "
    "(1-touch journeys get 100%, 2-touch get 50/50). Per-journey "
    "position and length come from ONE user-keyed window pair riding "
    "a single exchange; per-touch credit is a pure CASE (the fraction "
    "0.2/(n-2) is the same double in both engines because n is an "
    "exact BIGINT), rounded once and summed as DECIMAL so channel "
    "totals are exact and order-independent. The pre-conversion "
    "filter is an equi-join against the 1-row-per-user first-"
    "conversion aggregate. Same two-shuffle plan at any scale.",
)
def q_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    conv = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    t = (
        e.join(conv, "user_id")
        .where((F.col("ts") < F.col("conv_ts")) & (F.col("event_type") != "purchase"))
    )
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    touches = t.select(
        "event_type",
        F.row_number().over(wp).cast("bigint").alias("pos"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    credit = (
        F.when(F.col("n") == 1, 1.0)
        .when(F.col("n") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), 0.4)
        .otherwise(0.2 / (F.col("n") - 2))
    )
    return (
        touches.select(
            "event_type",
            F.round(credit, 9).cast("decimal(28,9)").alias("credit"),
        )
        .groupBy("event_type")
        .agg(F.round(F.sum("credit").cast("double"), 4).alias("total_credit"))
        .orderBy(F.col("event_type").asc())
    )


# ------------------------------------------------ rolling volatility
BOLL_WINDOW = 7  # trailing days in the band


@register(
    "rolling_bollinger_bands",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM orders GROUP BY day
    ),
    frames AS (
      SELECT day, rev,
             CAST(count(*) OVER w AS BIGINT) AS n_w,
             CAST(sum(rev) OVER w AS DECIMAL(38,2)) AS s1,
             CAST(sum(CAST(rev * rev AS DECIMAL(38,4))) OVER w
                  AS DECIMAL(38,4)) AS s2
      FROM daily
      WINDOW w AS (ORDER BY day ROWS {BOLL_WINDOW - 1} PRECEDING)
    ),
    stats AS (
      SELECT day, rev, n_w,
             CAST(s1 AS DOUBLE) / n_w AS ma,
             CASE WHEN n_w > 1 THEN
               sqrt(greatest(
                 (CAST(s2 AS DOUBLE)
                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_w)
                 / (n_w - 1), 0.0))
             ELSE 0.0 END AS sd
      FROM frames
    )
    SELECT day, rev, n_w,
           round(ma, 2) AS ma,
           round(ma + 2 * sd, 2) AS upper_band,
           round(ma - 2 * sd, 2) AS lower_band,
           CASE WHEN CAST(rev AS DOUBLE) > ma + 2 * sd
                  OR CAST(rev AS DOUBLE) < ma - 2 * sd
                THEN 1 ELSE 0 END AS is_break
    FROM stats ORDER BY day ASC
    """,
    doc="Bollinger bands over the daily revenue series — trailing "
    "7-day moving average ± 2σ with band-break flags, the rolling-"
    "volatility pattern behind ops alerting and trading-style "
    "monitors. The frame moments are EXACT: daily revenue is an "
    "exact DECIMAL sum, and both frame sums (Σrev, Σrev² as "
    "DECIMAL(38,4)) accumulate decimals inside a ROWS frame — "
    "bounded state (7 rows), no float drift, variance derived from "
    "bit-identical inputs in both engines with only sqrt/divide "
    "floating (the Welch discipline inside a window frame, which "
    "event_ewma_smoothing's weighted fold cannot give because its "
    "weights are non-associative). The global day-ordered window "
    "runs on the DAY-cardinality rollup (calendar-bounded, ~2.5k "
    "rows for 7 years) — at 100 TB the corpus-sized work remains "
    "the one daily aggregate; partition the window by "
    "series/ticker key when there are many series.",
)
def q_rolling_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-(BOLL_WINDOW - 1), 0)
    frames = daily.select(
        "day",
        "rev",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_w"),
        F.sum("rev").over(w).cast("decimal(38,2)").alias("s1"),
        F.sum((F.col("rev") * F.col("rev")).cast("decimal(38,4)"))
        .over(w)
        .cast("decimal(38,4)")
        .alias("s2"),
    )
    ma = F.col("s1").cast("double") / F.col("n_w")
    sd = F.when(
        F.col("n_w") > 1,
        F.sqrt(
            F.greatest(
                (
                    F.col("s2").cast("double")
                    - F.col("s1").cast("double")
                    * F.col("s1").cast("double")
                    / F.col("n_w")
                )
                / (F.col("n_w") - 1),
                F.lit(0.0),
            )
        ),
    ).otherwise(0.0)
    return frames.select(
        "day",
        "rev",
        "n_w",
        F.round(ma, 2).alias("ma"),
        F.round(ma + 2 * sd, 2).alias("upper_band"),
        F.round(ma - 2 * sd, 2).alias("lower_band"),
        F.when(
            (F.col("rev").cast("double") > ma + 2 * sd)
            | (F.col("rev").cast("double") < ma - 2 * sd),
            1,
        )
        .otherwise(0)
        .alias("is_break"),
    ).orderBy(F.col("day").asc())


# ------------------------------------------------ calendar seasonality
@register(
    "seasonality_dow_profile",
    oracle="""
    WITH d AS (
      SELECT CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM orders GROUP BY dow
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS tn,
             CAST(sum(rev) AS DECIMAL(38,2)) AS trev
      FROM d
    )
    SELECT dow, n, rev,
           round(CAST(rev AS DOUBLE) / n, 2) AS avg_order,
           round((CAST(rev AS DOUBLE) / n)
                 / (CAST(trev AS DOUBLE) / tn), 4) AS seasonal_index
    FROM d, tot ORDER BY dow ASC
    """,
    doc="Day-of-week seasonality profile — per-weekday order volume, "
    "exact decimal revenue, and a seasonal index (weekday mean order "
    "value over the global mean; 1.0 = no weekday effect), the "
    "calendar complement to forecast_backtest_mape's year-over-year "
    "lag. Weekday numbering is pinned to Spark's 1=Sunday convention "
    "(DuckDB's 0-based dayofweek is shifted by +1 in the oracle). "
    "One 7-row aggregate plus a broadcast 1-row total "
    "— all sums decimal-exact, divisions last. Map-parallel at any "
    "scale.",
)
def q_seasonality_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.dayofweek(F.col("o_orderdate").cast("date")).cast("int").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("rev"),
    )
    tot = d.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("rev").cast("decimal(38,2)").alias("trev"),
    )
    return (
        d.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n",
            "rev",
            F.round(F.col("rev").cast("double") / F.col("n"), 2).alias("avg_order"),
            F.round(
                (F.col("rev").cast("double") / F.col("n"))
                / (F.col("trev").cast("double") / F.col("tn")),
                4,
            ).alias("seasonal_index"),
        )
        .orderBy(F.col("dow").asc())
    )


# --------------------------------------------- Holt linear smoothing
HOLT_ALPHA = 0.5
HOLT_BETA = 0.3
HOLT_H = 6


@register(
    "holt_linear_forecast",
    oracle=f"""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM orders GROUP BY month
    ),
    arr AS (
      SELECT list(CAST(rev AS DOUBLE) ORDER BY month) AS ys,
             CAST(count(*) AS BIGINT) AS n_months
      FROM m
    ),
    fit AS (
      -- state rides a 2-element LIST [level, trend]: DuckDB's
      -- list_reduce overwrites struct accumulator fields in place
      -- (field 2's expression would read field 1's NEW value), while
      -- list construction evaluates both expressions first
      SELECT n_months,
             list_reduce(
               list_prepend(
                 [ys[1], CAST(0.0 AS DOUBLE)],
                 list_transform(ys[2:], y -> [y, CAST(0.0 AS DOUBLE)])),
               (acc, e) ->
                 [{HOLT_ALPHA!r} * e[1]
                    + {1 - HOLT_ALPHA!r} * (acc[1] + acc[2]),
                  {HOLT_BETA!r} * (({HOLT_ALPHA!r} * e[1]
                      + {1 - HOLT_ALPHA!r} * (acc[1] + acc[2])) - acc[1])
                    + {1 - HOLT_BETA!r} * acc[2]]) AS s
      FROM arr
    )
    SELECT CAST(h.h AS INT) AS h, n_months,
           round(s[1], 2) AS level,
           round(s[2], 2) AS trend,
           round(s[1] + h.h * s[2], 2) AS forecast
    FROM fit, (SELECT unnest(range(1, {HOLT_H + 1})) AS h) h
    ORDER BY h ASC
    """,
    doc="Holt double-exponential smoothing (level + linear trend) fit "
    "over the monthly revenue series, projected 1-6 months ahead — "
    "the recursive-state time-series method forecast_backtest_mape's "
    "seasonal-naive baseline graduates to. The recursion l_t = αy_t "
    "+ (1-α)(l+b), b_t = β Δl + (1-β)b is inherently sequential, so "
    "it runs as an ORDERED LEFT FOLD with a struct accumulator over "
    "the month-sorted value list — both engines execute the identical "
    "operation sequence on identical doubles (the nDCG fold pattern "
    "carrying state instead of a sum). The folded list is the MONTH-"
    "cardinality rollup (calendar-bounded, 84 points for 7 years) — "
    "the one corpus-sized aggregate is the monthly sum; at 100 TB "
    "fold per series key inside a grouped aggregate for millions of "
    "independent series.",
)
def q_holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _monthly_revenue(load_table(spark, sf_dir, "orders"))
    arr = m.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(month, "
            "CAST(rev AS DOUBLE) AS y))), x -> x.y)"
        ).alias("ys"),
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
    )
    a, b1 = HOLT_ALPHA, HOLT_BETA
    fold = (
        "aggregate(slice(ys, 2, size(ys) - 1), "
        "array(element_at(ys, 1), 0.0D), "
        f"(acc, y) -> array("
        f"{a!r}D * y + {1 - a!r}D * (element_at(acc, 1) + element_at(acc, 2)), "
        f"{b1!r}D * (({a!r}D * y "
        f"+ {1 - a!r}D * (element_at(acc, 1) + element_at(acc, 2))) "
        f"- element_at(acc, 1)) "
        f"+ {1 - b1!r}D * element_at(acc, 2)))"
    )
    fit = arr.select("n_months", F.expr(fold).alias("s"))
    return (
        fit.select(
            F.explode(F.sequence(F.lit(1), F.lit(HOLT_H))).alias("h"),
            "n_months",
            F.round(F.element_at("s", 1), 2).alias("level"),
            F.round(F.element_at("s", 2), 2).alias("trend"),
            F.element_at("s", 1).alias("_l"),
            F.element_at("s", 2).alias("_t"),
        )
        .select(
            F.col("h").cast("int").alias("h"),
            "n_months",
            "level",
            "trend",
            F.round(F.col("_l") + F.col("h") * F.col("_t"), 2).alias("forecast"),
        )
        .orderBy(F.col("h").asc())
    )


# ------------------------------------------------- share of parent
@register(
    "share_of_parent_rollup",
    oracle="""
    WITH nv AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                  AS DECIMAL(38,2)) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY region, nation
    )
    SELECT region, nation, rev,
           round(CAST(rev AS DOUBLE)
                 / CAST(sum(rev) OVER (PARTITION BY region) AS DOUBLE),
                 6) AS share_of_region,
           round(CAST(rev AS DOUBLE)
                 / CAST(sum(rev) OVER () AS DOUBLE), 6) AS share_of_total
    FROM nv ORDER BY region ASC, nation ASC
    """,
    doc="Hierarchical share-of-parent rollup — the BI ratio-to-report "
    "pattern: each nation's revenue as a share of its region and of "
    "the grand total, from one star join (orders->customer->nation->"
    "region, both dims broadcast) and one exact-decimal aggregate. "
    "The two denominators are window sums OVER THE AGGREGATE "
    "(nation-cardinality rows, ~25), so no second scan and no "
    "re-aggregation; shares divide two exact decimals and round "
    "once. Same plan at 100 TB — the window input is "
    "dimension-sized regardless of fact volume.",
)
def q_share_of_parent_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nv = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("rev")
        )
    )
    wreg = Window.partitionBy("region")
    wall = Window.partitionBy()
    return nv.select(
        "region",
        "nation",
        "rev",
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(wreg).cast("double"), 6
        ).alias("share_of_region"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(wall).cast("double"), 6
        ).alias("share_of_total"),
    ).orderBy(F.col("region").asc(), F.col("nation").asc())


# ------------------------------------------------ interval sweep line
@register(
    "events_peak_concurrency",
    oracle="""
    WITH m AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                       < INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_s
      FROM events
    ),
    s AS (
      SELECT user_id,
             CAST(sum(new_s) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid,
             ts
      FROM m
    ),
    sess AS (
      SELECT user_id, sid, min(ts) AS t0, max(ts) AS t1
      FROM s GROUP BY user_id, sid
    ),
    ticks AS (
      SELECT t0 AS t, 1 AS delta, user_id, sid FROM sess
      UNION ALL
      SELECT t1 AS t, -1 AS delta, user_id, sid FROM sess
    ),
    run AS (
      SELECT t,
             CAST(sum(delta) OVER (
               ORDER BY t ASC, delta DESC, user_id ASC, sid ASC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS concurrent
      FROM ticks
    )
    SELECT CAST(t AS DATE) AS day,
           max(concurrent) AS peak_concurrent,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM run GROUP BY day
    ORDER BY day ASC
    """,
    doc="Peak session concurrency per day — the SWEEP-LINE interval "
    "pattern (capacity planning, license seats, max simultaneous "
    "connections): sessionize (same certified 30-min algebra), emit "
    "a +1 tick at each session start and a -1 at its end, and take "
    "the running sum in global time order; the daily max of that "
    "running count is the day's peak concurrency. The tie order is "
    "PINNED (+1 before -1 at the same instant, then user/sid) so "
    "touching sessions count as concurrent and both engines walk the "
    "identical tick sequence — all integer arithmetic. The global "
    "time-ordered window runs over the SESSION-boundary ticks (2 per "
    "session, far smaller than the event stream); at 100 TB "
    "partition the sweep by coarse time range with per-range offsets "
    "from a first pass (the standard parallel prefix-sum split), or "
    "by tenant key when concurrency is per-tenant.",
)
def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _sessionized_events(load_table(spark, sf_dir, "events"))
    sess = s.groupBy("user_id", "sid").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    ticks = sess.select(
        F.col("t0").alias("t"), F.lit(1).alias("delta"), "user_id", "sid"
    ).unionAll(
        sess.select(
            F.col("t1").alias("t"), F.lit(-1).alias("delta"), "user_id", "sid"
        )
    )
    wr = Window.orderBy(
        F.col("t").asc(), F.col("delta").desc(), F.col("user_id").asc(), F.col("sid").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    run = ticks.select(
        "t", F.sum("delta").over(wr).cast("bigint").alias("concurrent")
    )
    return (
        run.groupBy(F.col("t").cast("date").alias("day"))
        .agg(
            F.max("concurrent").alias("peak_concurrent"),
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        )
        .orderBy(F.col("day").asc())
    )


# ---------------------------------------------------- l-diversity
L_DIVERSITY = 3


@register(
    "l_diversity_audit",
    oracle=f"""
    SELECT c_nationkey,
           CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
           count(DISTINCT c_mktsegment) < {L_DIVERSITY} AS at_risk
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey ASC
    """,
    doc="l-diversity audit — the attack k_anonymity_audit misses: a "
    "quasi-identifier class can be large (k-anonymous) yet still leak "
    "if every member shares the SAME sensitive value (homogeneity "
    "attack, Machanavajjhala et al. 2007). Per QI class (nationkey), "
    "count DISTINCT sensitive values (mktsegment) and flag classes "
    "below l=3 — together with k_anonymity_audit and "
    "dp_noisy_group_counts this completes the release-gate ladder "
    "(size -> diversity -> noise). One partial->final aggregate whose "
    "distinct state is bounded by the sensitive-attribute domain; "
    "output is QI-domain-sized regardless of table size.",
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.countDistinct("c_mktsegment").cast("bigint").alias("n_sensitive"),
        )
        .withColumn("at_risk", F.col("n_sensitive") < L_DIVERSITY)
        .orderBy(F.col("c_nationkey").asc())
    )


# ------------------------------------------ functional dependencies
_FD_COLS = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")


def _fd_pairs():
    return [
        (lhs, rhs) for lhs in _FD_COLS for rhs in _FD_COLS if lhs != rhs
    ]


@register(
    "fd_discovery_profile",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{lhs}->{rhs}' AS fd,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count(CASE WHEN nd > 1 THEN 1 END) AS BIGINT)
             AS n_violating,
           CASE WHEN count(CASE WHEN nd > 1 THEN 1 END) = 0
                THEN 1 ELSE 0 END AS holds
    FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd
          FROM customer GROUP BY {lhs})
    """
        for lhs, rhs in _fd_pairs()
    )
    + "\nORDER BY fd ASC",
    doc="Functional-dependency discovery over the customer table — the "
    "schema-profiling pass (Metanome/data-quality style) that tells "
    "you which column determines which: for every ordered column "
    "pair A->B, count the A-groups whose B is not unique. c_custkey "
    "determines everything (it is the key); c_nationkey->c_mktsegment "
    "does not hold — exactly the facts a modeler needs before "
    "declaring grain or trusting a join. Each candidate FD is one "
    "partial->final (A, count distinct B) aggregate; the candidate "
    "count is SCHEMA-bounded (k(k-1) pairs for k columns), so the "
    "whole profile is a union of k(k-1) cheap scans — or one shared "
    "scan when Catalyst fuses the branches. Exact integer counts "
    "only. At 100 TB: run per partition sample first, then confirm "
    "survivors exactly — the standard two-phase FD-discovery "
    "optimization; the per-pair plan is unchanged.",
)
def q_fd_discovery_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    out = None
    for lhs, rhs in _fd_pairs():
        g = c.groupBy(lhs).agg(F.countDistinct(rhs).alias("nd"))
        agg = g.agg(
            F.lit(f"{lhs}->{rhs}").alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.count(F.when(F.col("nd") > 1, 1)).cast("bigint").alias("n_violating"),
        ).select(
            "fd",
            "n_groups",
            "n_violating",
            F.when(F.col("n_violating") == 0, 1).otherwise(0).alias("holds"),
        )
        out = agg if out is None else out.unionAll(agg)
    return out.orderBy(F.col("fd").asc())


# ------------------------------------------ nonparametric trend test
@register(
    "trend_mann_kendall",
    oracle="""
    WITH m AS (
      SELECT CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS i,
             rev
      FROM (
        SELECT date_trunc('month', o_orderdate) AS month,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS rev
        FROM orders GROUP BY month
      )
    ),
    pairs AS (
      SELECT CAST(sign(b.rev - a.rev) AS BIGINT) AS sgn,
             CAST(b.rev - a.rev AS DOUBLE) / (b.i - a.i) AS slope
      FROM m a JOIN m b ON a.i < b.i
    ),
    stats AS (
      SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM pairs
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_months FROM m),
    sen AS (
      SELECT round(avg(slope), 2) + 0 AS sen_slope
      FROM (
        SELECT slope,
               row_number() OVER (ORDER BY slope, sgn) AS r,
               count(*) OVER () AS c
        FROM pairs
      ) WHERE r IN ((c + 1) // 2, (c + 2) // 2)
    )
    SELECT n.n_months, s.s_stat,
           CAST(n.n_months * (n.n_months - 1) * (2 * n.n_months + 5)
                AS BIGINT) AS var18_num,
           round((s.s_stat - sign(s.s_stat))
                 / sqrt(n.n_months * (n.n_months - 1)
                        * (2.0 * n.n_months + 5) / 18.0), 4) + 0 AS z_stat,
           sen.sen_slope
    FROM stats s, n, sen
    """,
    doc="Mann-Kendall trend test + Theil-Sen slope over the monthly "
    "revenue series — the NONPARAMETRIC trend pair (monotonic trend "
    "without normality or linearity assumptions; the robust "
    "complement to segment_sales_trend's OLS): S = Σ sign(y_j - y_i) "
    "over ordered pairs is a pure INTEGER statistic (signs are taken "
    "on exact decimal differences), its variance is the closed "
    "integer form n(n-1)(2n+5)/18, and the Theil-Sen slope is the "
    "exact median of pairwise slopes (each slope an identical double "
    "from a decimal difference over an integer index gap; median = "
    "the two middle order statistics, averaged). The O(n²) pair join "
    "is over the MONTH-cardinality rollup — calendar-bounded (~3k "
    "pairs for 7 years), never corpus-sized; at decade scale switch "
    "the median to the histogram-CDF route. One corpus-sized "
    "aggregate, one tiny self-join, two 1-row reductions.",
)
def q_trend_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    monthly = _monthly_revenue(load_table(spark, sf_dir, "orders"))
    m = monthly.select(
        F.row_number().over(Window.orderBy("month")).cast("bigint").alias("i"),
        "rev",
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(b, F.col("a.i") < F.col("b.i")).select(
        F.signum(F.col("b.rev") - F.col("a.rev")).cast("bigint").alias("sgn"),
        (
            (F.col("b.rev") - F.col("a.rev")).cast("double")
            / (F.col("b.i") - F.col("a.i"))
        ).alias("slope"),
    )
    stats = pairs.agg(
        F.sum("sgn").cast("bigint").alias("s_stat"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    n = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    wr = Window.orderBy("slope", "sgn")
    ranked = pairs.select(
        "slope",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("c"),
    )
    sen = ranked.where(
        (F.col("r") == F.expr("(c + 1) div 2")) | (F.col("r") == F.expr("(c + 2) div 2"))
    ).agg(F.round(F.avg("slope"), 2).alias("sen_slope"))
    nm = F.col("n_months")
    return (
        stats.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(sen))
        .select(
            "n_months",
            "s_stat",
            (nm * (nm - 1) * (2 * nm + 5)).cast("bigint").alias("var18_num"),
            F.round(
                (F.col("s_stat") - F.signum(F.col("s_stat")))
                / F.sqrt(nm * (nm - 1) * (2.0 * nm + 5) / 18.0),
                4,
            ).alias("z_stat"),
            "sen_slope",
        )
    )


# ------------------------------------------------- survival analysis
@register(
    "survival_repurchase_curve",
    oracle="""
    WITH days AS (
      SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS day
      FROM orders
    ),
    firsts AS (SELECT o_custkey, min(day) AS d1 FROM days GROUP BY o_custkey),
    seconds AS (
      SELECT d.o_custkey, min(d.day) AS d2
      FROM days d JOIN firsts f
        ON d.o_custkey = f.o_custkey AND d.day > f.d1
      GROUP BY d.o_custkey
    ),
    horizon AS (SELECT max(day) AS mx FROM days),
    obs AS (
      SELECT f.o_custkey,
             CAST(CASE WHEN s.d2 IS NOT NULL THEN s.d2 - f.d1
                       ELSE h.mx - f.d1 END AS BIGINT) AS t,
             CASE WHEN s.d2 IS NOT NULL THEN 1 ELSE 0 END AS event
      FROM firsts f LEFT JOIN seconds s ON f.o_custkey = s.o_custkey
      CROSS JOIN horizon h
    ),
    grouped AS (
      SELECT t, CAST(sum(event) AS BIGINT) AS d_events,
             CAST(count(*) AS BIGINT) AS n_obs
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d_events,
             CAST((SELECT count(*) FROM obs) AS BIGINT)
               - CAST(coalesce(sum(n_obs) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      FROM grouped
    ),
    km AS (
      SELECT t, d_events, n_risk,
             CAST(sum(CAST(round(
               ln(1.0 - CAST(d_events AS DOUBLE) / n_risk), 9)
               AS DECIMAL(28,9)) ) OVER (
               ORDER BY t ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,9))
               AS loglik
      FROM risk WHERE d_events > 0 AND d_events < n_risk
    )
    SELECT t AS t_days, n_risk, d_events,
           round(exp(CAST(loglik AS DOUBLE)), 6) AS survival
    FROM km ORDER BY t_days ASC
    """,
    doc="Kaplan-Meier repurchase survival curve WITH right-censoring — "
    "time from a customer's first order-day to their second, where "
    "one-order customers are censored at the observation horizon "
    "instead of dropped (what conversion_latency_percentiles cannot "
    "express: ignoring censoring biases time-to-repeat optimistic). "
    "S(t) = prod over event times of (1 - d_i/n_i); the product runs "
    "in LOG SPACE with each ln term rounded once and cumulated as "
    "DECIMAL in the time-ordered window, so the running product is "
    "exact-order arithmetic in both engines and exp() fires once per "
    "output row on identical inputs. Risk sets come from one "
    "cumulative window over the duration-grouped table (cardinality "
    "= distinct durations, calendar-bounded). Plan: two keyed "
    "aggregates to build observations, one window — no self-join, "
    "no iteration. Same shape at 100 TB.",
)
def q_survival_repurchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    days = o.select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("day")
    ).distinct()
    firsts = days.groupBy("o_custkey").agg(F.min("day").alias("d1"))
    seconds = (
        days.join(firsts, "o_custkey")
        .where(F.col("day") > F.col("d1"))
        .groupBy("o_custkey")
        .agg(F.min("day").alias("d2"))
    )
    horizon = days.agg(F.max("day").alias("mx"))
    obs = (
        firsts.join(seconds, "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1"))
            )
            .otherwise(F.datediff(F.col("mx"), F.col("d1")))
            .cast("bigint")
            .alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    grouped = obs.groupBy("t").agg(
        F.sum("event").cast("bigint").alias("d_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
    )
    total = obs.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    wprior = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grouped.crossJoin(F.broadcast(total)).select(
        "t",
        "d_events",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_obs").over(wprior), F.lit(0))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = (
        risk.where((F.col("d_events") > 0) & (F.col("d_events") < F.col("n_risk")))
        .select(
            "t",
            "d_events",
            "n_risk",
            F.sum(
                F.round(
                    F.log(1.0 - F.col("d_events").cast("double") / F.col("n_risk")),
                    9,
                ).cast("decimal(28,9)")
            )
            .over(wcum)
            .cast("decimal(38,9)")
            .alias("loglik"),
        )
    )
    return km.select(
        F.col("t").alias("t_days"),
        "n_risk",
        "d_events",
        F.round(F.exp(F.col("loglik").cast("double")), 6).alias("survival"),
    ).orderBy(F.col("t_days").asc())


_EMB_DIM = 64


@register(
    "embedding_label_centroids",
    oracle=f"""
    WITH ex AS (
      SELECT label, i.i AS dim,
             CAST(round(CAST(embedding[i.i] AS DOUBLE), 7)
                  AS DECIMAL(20,7)) AS v
      FROM embeddings, (SELECT unnest(range(1, {_EMB_DIM + 1})) AS i) i
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS centroid
    FROM ex GROUP BY label, dim
    ORDER BY label ASC, dim ASC
    """,
    doc="Exact per-label embedding centroids — the distributed vector "
    "mean every embedding pipeline needs (k-means init, class "
    "prototypes, SemDeDup anchors, drift baselines), computed so the "
    "result is PARTITION-ORDER-INDEPENDENT: naive sum(float[]) "
    "accumulates doubles in shuffle order and differs run to run in "
    "the last bits; here each component is rounded once (float32 "
    "carries ~7 significant digits, so 7dp loses nothing) and summed "
    "as DECIMAL — bit-identical across engines and partitionings. "
    "Long (label, dim) layout keeps it one posexplode + one hash "
    "aggregate with map-side combine — ×64 on the vector table, "
    "state = labels × dims cells. The same plan at 100 TB; "
    "reassemble to arrays with collect_list(sorted by dim) only at "
    "the consumer.",
)
def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "val")
    ).select(
        "label",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.round(F.col("val").cast("double"), 7).cast("decimal(20,7)").alias("v"),
    )
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6).alias(
                "centroid"
            ),
        )
        .orderBy(F.col("label").asc(), F.col("dim").asc())
    )


# ---------------------------------------------- label-noise detection
KNN_K = 5
KNN_PLANES = 5  # 2^5 = 32 LSH buckets
# Walsh-pattern hyperplanes: plane k flips sign every 2^k dimensions
# ((i-1) div 2^k mod 2) — mutually orthogonal square waves, so no two
# planes are equal or constant. (The naive (i*m)%2 family is a trap:
# every even multiplier is a CONSTANT plane and every odd multiplier
# the SAME alternating plane, silently collapsing 2^K buckets to 2 —
# measured 11 s at sf0.1 before the fix, 0.6 s after.)


def _plane_sign(k: int, i: int) -> int:
    """Deterministic ±1 Walsh hyperplane shared by both engines."""
    return 1 if ((i - 1) // (1 << k)) % 2 == 0 else -1


def _sign_array_spark(k: int) -> str:
    """Plane k as a literal ±1.0 double array (Spark SQL fragment)."""
    vals = ", ".join(
        f"{float(_plane_sign(k, i))!r}D" for i in range(1, _EMB_DIM + 1)
    )
    return f"array({vals})"


# SQL fragment: dot(v, plane_k) as an ORDERED fold (identical
# float-addition order in both engines)
def _plane_dot_sql(k: int) -> str:
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {_EMB_DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) "
        f"* (CASE WHEN ((i - 1) // {1 << k}) % 2 = 0 "
        "THEN 1.0 ELSE -1.0 END))), "
        "(a, x) -> a + x)"
    )


_BUCKET_SQL = " || ".join(
    f"(CASE WHEN {_plane_dot_sql(k)} >= 0 THEN '1' ELSE '0' END)"
    for k in range(KNN_PLANES)
)

_PAIR_DOT_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(range(1, {_EMB_DIM + 1}), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)

_NORM_SQL = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    f"list_transform(range(1, {_EMB_DIM + 1}), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), "
    "(a, x) -> a + x))"
)


@register(
    "label_noise_knn_audit",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, embedding,
             {_BUCKET_SQL} AS bucket,
             {_NORM_SQL} AS nrm
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id, a.label,
             b.label AS nb_label, b.vec_id AS nb_id,
             round({_PAIR_DOT_SQL} / (a.nrm * b.nrm), 9) AS cos
      FROM v a JOIN v b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    topk AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY cos DESC, nb_id ASC) AS rn
        FROM pairs
      ) WHERE rn <= {KNN_K}
    ),
    votes AS (
      SELECT vec_id, label, nb_label,
             CAST(count(*) AS BIGINT) AS n_votes
      FROM topk GROUP BY vec_id, label, nb_label
    ),
    major AS (
      SELECT vec_id, label, nb_label AS majority_label, n_votes
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY n_votes DESC, nb_label ASC) AS mr
        FROM votes
      ) WHERE mr = 1
    )
    SELECT vec_id, label, majority_label, n_votes
    FROM major
    WHERE majority_label <> label AND n_votes >= 3
    ORDER BY vec_id ASC
    """,
    doc="k-NN label-noise audit (confident-learning-lite, the Cleanlab "
    "pattern): flag vectors whose 5 nearest neighbors vote >= 3-2 for "
    "a DIFFERENT label — the data-centric screen run before training "
    "on labeled embeddings. Neighbor search is LSH-bucketed (5 "
    "deterministic Walsh-pattern ±1 hyperplanes -> 32 buckets), so the pair space is "
    "Σ|bucket|², never n² — the sim_ann_hyperplane scale argument "
    "with the readout changed from retrieval to label agreement. "
    "Every float reduction (plane dots, pair dots, norms) is an "
    "ORDERED FOLD over the dimension index, so bucket assignment and "
    "cosine ranks derive from bit-identical doubles in both engines. "
    "Majority vote = one (vec, neighbor-label) count + one argmax "
    "window, both on the vec key. At 100 TB: more planes -> smaller "
    "buckets, multi-probe for recall, exactly as the ANN family "
    "documents.",
)
def q_label_noise_knn_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vector import dot_expr, sq_norm_expr

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    # CAPTURE-FREE folds only: a lambda that captures an outer column
    # (aggregate(sequence(1, 64), ..., element_at(embedding, i))) hits
    # Spark's self-join alias dedup bug (INTERNAL_ERROR_ATTRIBUTE_NOT_
    # FOUND at runtime); passing the array as the HOF argument — the
    # functions/vector.py idiom every similarity op uses — does not.
    plane_dot = [
        F.expr(
            "aggregate(zip_with(embedding, "
            + _sign_array_spark(k)
            + ", (x, s) -> CAST(x AS DOUBLE) * s), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        for k in range(KNN_PLANES)
    ]
    bucket = F.concat(
        *[F.when(pd >= 0, "1").otherwise("0") for pd in plane_dot]
    )
    nrm = F.expr(f"sqrt({sq_norm_expr('embedding')})")
    v = emb.select(
        "vec_id", "label", "embedding", bucket.alias("bucket"), nrm.alias("nrm")
    )
    a, b = v.alias("a"), v.alias("b")
    pair_dot = F.expr(dot_expr("a.embedding", "b.embedding"))
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.label").alias("label"),
        F.col("b.label").alias("nb_label"),
        F.col("b.vec_id").alias("nb_id"),
        F.round(pair_dot / (F.col("a.nrm") * F.col("b.nrm")), 9).alias("cos"),
    )
    wk = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("nb_id").asc()
    )
    topk = pairs.withColumn("rn", F.row_number().over(wk)).where(
        F.col("rn") <= KNN_K
    )
    votes = topk.groupBy("vec_id", "label", "nb_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes")
    )
    wm = Window.partitionBy("vec_id").orderBy(
        F.col("n_votes").desc(), F.col("nb_label").asc()
    )
    major = (
        votes.withColumn("mr", F.row_number().over(wm))
        .where(F.col("mr") == 1)
        .select("vec_id", "label", F.col("nb_label").alias("majority_label"), "n_votes")
    )
    return (
        major.where(
            (F.col("majority_label") != F.col("label")) & (F.col("n_votes") >= 3)
        )
        .orderBy(F.col("vec_id").asc())
    )


# ----------------------------------------------- probabilistic record linkage
FS_SCALE = 1_000_000  # probabilities in integer micro-units
FS_ITERS = 3


def _fs_em_sql(intdiv: str, tbl: str) -> str:
    """Fellegi-Sunter EM, one SQL body for both engines (``intdiv`` is
    ``div`` on Spark, ``//`` on DuckDB; ``tbl`` the part relation).

    Cross-engine determinism: field-agreement pattern counts are exact
    integers (order-independent distributed sums); each E-step weight is
    ONE fixed-shape IEEE double expression over those integers, floored
    back into micro-units; each M-step is integer sums followed by one
    double ratio floored back to micro-units — no engine ever folds
    doubles in a data-dependent order."""
    fields = [
        ("a1", "a.p_name = b.p_name"),
        ("a2", "a.p_type = b.p_type"),
        ("a3", "a.p_size = b.p_size"),
        # price band: integer bucket so the comparison is exact on both
        # engines (raw doubles compare exactly too, but banding is the
        # realistic linkage field)
        ("a4", "floor(a.p_retailprice / 100) = floor(b.p_retailprice / 100)"),
    ]
    agree = ",\n             ".join(
        f"CASE WHEN {cond} THEN 1 ELSE 0 END AS {k}" for k, cond in fields
    )
    # initial parameters: p=0.1, m_k=0.9, u_k=0.1 (micro-units)
    par0 = (
        "SELECT CAST(100000 AS BIGINT) AS p, "
        + ", ".join(f"CAST(900000 AS BIGINT) AS m{i}" for i in range(1, 5))
        + ", "
        + ", ".join(f"CAST(100000 AS BIGINT) AS u{i}" for i in range(1, 5))
    )

    def prob_product(prefix: str) -> str:
        # fixed left-associated chain of double factors
        terms = [f"(par.p / CAST({FS_SCALE} AS DOUBLE))"] if prefix == "m" else [
            f"(({FS_SCALE} - par.p) / CAST({FS_SCALE} AS DOUBLE))"
        ]
        for i in range(1, 5):
            terms.append(
                f"(CASE WHEN pc.a{i} = 1 THEN par.{prefix}{i} "
                f"ELSE {FS_SCALE} - par.{prefix}{i} END / CAST({FS_SCALE} AS DOUBLE))"
            )
        return " * ".join(terms)

    its = []
    for t in range(FS_ITERS):
        its.append(f"""
    w{t} AS (
      SELECT pc.n, pc.a1, pc.a2, pc.a3, pc.a4,
             CAST(floor({prob_product('m')}
                        / (({prob_product('m')}) + ({prob_product('u')}))
                        * CAST({FS_SCALE} AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS w
      FROM pc CROSS JOIN par{t} par
    ),
    par{t + 1} AS (
      SELECT
        CAST(floor(sum(n * w) * CAST(1 AS DOUBLE) / sum(n) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS p,
        {', '.join(
            f"CAST(floor(sum(n * w * a{i}) * CAST(1 AS DOUBLE) / sum(n * w) "
            f"* CAST({FS_SCALE} AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS m{i}" for i in range(1, 5))},
        {', '.join(
            f"CAST(floor(sum(n * ({FS_SCALE} - w) * a{i}) * CAST(1 AS DOUBLE) "
            f"/ sum(n * ({FS_SCALE} - w)) * CAST({FS_SCALE} AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS u{i}"
            for i in range(1, 5))}
      FROM w{t}
    )""")
    out_rows = ["SELECT 'prior' AS field, p AS m_micro, "
                f"CAST({FS_SCALE} AS BIGINT) - p AS u_micro FROM par{FS_ITERS}"]
    for i, name in enumerate(["name", "type", "size", "price_band"], start=1):
        out_rows.append(
            f"SELECT '{name}', m{i}, u{i} FROM par{FS_ITERS}"
        )
    union = "\n      UNION ALL ".join(out_rows)
    return f"""
    WITH pc AS (
      SELECT {agree},
             CAST(count(*) AS BIGINT) AS n
      FROM {tbl} a JOIN {tbl} b
        ON a.p_brand = b.p_brand
       AND substring(a.p_name, 1, 1) = substring(b.p_name, 1, 1)
       AND a.p_partkey < b.p_partkey
      GROUP BY 1, 2, 3, 4
    ),
    par0 AS ({par0}),
    {','.join(its)}
    SELECT field, m_micro, u_micro,
           CASE WHEN u_micro > 0
                THEN (m_micro * 1000) {intdiv} u_micro END AS mu_ratio_milli
    FROM ({union})
    ORDER BY field
    """


@register(
    "er_fellegi_sunter_em",
    oracle=_fs_em_sql("//", "part"),
    doc="Probabilistic record linkage: Fellegi-Sunter match/unmatch "
    "parameter estimation via 3 unrolled EM rounds over field-"
    "agreement patterns — the statistical layer ABOVE "
    "entity_resolution_clusters' deterministic threshold: instead of "
    "declaring 'levenshtein<=3 means same entity', EM learns from the "
    "candidate-pair population how strongly each field's agreement "
    "(name/type/size/price-band) separates matches from non-matches, "
    "emitting per-field m- and u-probabilities and the m/u agreement "
    "ratio that production linkers threshold on. The heavy lift is "
    "ONE distributed pass: blocked candidate pairs (brand + first "
    "letter) collapse to <=16 integer agreement-pattern counts — the "
    "sufficient statistics — so the EM rounds run on a 16-row frame "
    "regardless of corpus size (the classic big-data EM shape: "
    "sufficient stats distributed, tiny M-step anywhere). Cross-"
    "engine exactness: probabilities live in integer micro-units; "
    "every double expression (E-step posterior, M-step ratios) has a "
    "fixed IEEE evaluation tree over exact integers and is floored "
    "straight back to micro-units, so no data-dependent float fold "
    "order exists on either engine and the driver hash-matches "
    "bit-for-bit.",
)
def q_er_fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        _fs_em_sql("div", "{p}"), p=load_table(spark, sf_dir, "part")
    )


_BLEU_FINAL_SQL = (
    "round(CASE WHEN m1 = 0 OR m2 = 0 OR m3 = 0 OR m4 = 0 THEN CAST(0 AS DOUBLE) "
    "ELSE exp(least(CAST(0 AS DOUBLE), "
    "CAST(1 AS DOUBLE) - CAST(r_len AS DOUBLE) / CAST(c_len AS DOUBLE))) "
    "* exp((ln(CAST(m1 AS DOUBLE) / CAST(t1 AS DOUBLE)) "
    "+ ln(CAST(m2 AS DOUBLE) / CAST(t2 AS DOUBLE)) "
    "+ ln(CAST(m3 AS DOUBLE) / CAST(t3 AS DOUBLE)) "
    "+ ln(CAST(m4 AS DOUBLE) / CAST(t4 AS DOUBLE))) / CAST(4 AS DOUBLE)) END, 4) "
    "AS bleu"
)

_BLEU_PREC_SQL = [
    f"round(CAST(m{k} AS DOUBLE) / CAST(t{k} AS DOUBLE), 4) AS p{k}"
    for k in (1, 2, 3, 4)
]


@register(
    "eval_bleu_corpus",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, source, {_TOKENS_SQL} AS tk FROM documents),
    b AS (
      SELECT doc_id, source, tk,
             list_transform(list_filter(range(1, len(tk) + 1), i -> i % 5 <> 0),
                            i -> tk[i]) AS ck
      FROM t0
    ),
    g AS (
      SELECT doc_id, source, n, tk, ck
      FROM b CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS n)
    ),
    cg AS (
      SELECT doc_id, source, n,
             unnest(CASE WHEN len(ck) >= n
                    THEN list_transform(range(1, len(ck) - n + 2),
                         i -> array_to_string(ck[i:i+n-1], ' '))
                    ELSE CAST([] AS VARCHAR[]) END) AS gram
      FROM g
    ),
    rg AS (
      SELECT doc_id, n,
             unnest(CASE WHEN len(tk) >= n
                    THEN list_transform(range(1, len(tk) - n + 2),
                         i -> array_to_string(tk[i:i+n-1], ' '))
                    ELSE CAST([] AS VARCHAR[]) END) AS gram
      FROM g
    ),
    cc AS (SELECT doc_id, source, n, gram, count(*) AS c
           FROM cg GROUP BY doc_id, source, n, gram),
    rc AS (SELECT doc_id, n, gram, count(*) AS r
           FROM rg GROUP BY doc_id, n, gram),
    cl AS (
      SELECT cc.source, cc.n,
             CAST(sum(least(cc.c, coalesce(rc.r, 0))) AS BIGINT) AS m,
             CAST(sum(cc.c) AS BIGINT) AS t
      FROM cc LEFT JOIN rc
        ON rc.doc_id = cc.doc_id AND rc.n = cc.n AND rc.gram = cc.gram
      GROUP BY cc.source, cc.n
    ),
    piv AS (
      SELECT source,
             {', '.join(f"CAST(sum(CASE WHEN n = {k} THEN m END) AS BIGINT) AS m{k}, "
                        f"CAST(sum(CASE WHEN n = {k} THEN t END) AS BIGINT) AS t{k}"
                        for k in (1, 2, 3, 4))}
      FROM cl GROUP BY source
    ),
    lens AS (
      SELECT source, CAST(sum(len(tk)) AS BIGINT) AS r_len,
             CAST(sum(len(ck)) AS BIGINT) AS c_len
      FROM b GROUP BY source
    )
    SELECT piv.source, c_len, r_len,
           {', '.join(_BLEU_PREC_SQL)},
           {_BLEU_FINAL_SQL}
    FROM piv JOIN lens ON lens.source = piv.source
    """,
    doc="Corpus BLEU-4 — the generation-eval staple, run as a "
    "distributed aggregate: candidate texts are a deterministic "
    "corruption of the references (every 5th token dropped, so "
    "modified n-gram precisions are non-trivial and the brevity "
    "penalty binds), clipped per document exactly as Papineni et al. "
    "define (each candidate n-gram's credit capped by its reference "
    "count), then pooled per `source` corpus: matched/total counts "
    "per n in 1..4, geometric-mean precision, BP = exp(1 - r/c). "
    "100 TB shape: the only corpus-sized stage is the n-gram stream "
    "(4x the token stream), aggregated by (doc, n, gram) with full "
    "map-side partial combine, then joined candidate-to-reference on "
    "the same key — keyed shuffles only, no pair expansion, final "
    "frame is |sources| x 4 rows. Cross-engine exactness: matched/"
    "total/lengths are exact BIGINTs; the BLEU expression is ONE "
    "fixed-shape IEEE double tree over those integers on both "
    "engines (libm ln/exp last-bit drift is absorbed by round(.,4)), "
    "so the driver hash-matches. Ref: BLEU (Papineni et al. 2002, "
    "public); no reference analog — extension mandate "
    "(training-pipeline evaluation family).",
)
def q_eval_bleu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The documents file is a single parquet split at bench scale, so
    # the gram-explosion map stage (the bulk of the work) would run on
    # ONE core; sizing it by cores first is the same rule as the UDTF
    # lateral (interleaved medians at sf0.1: 1.72 s -> 1.00 s). At
    # cluster scale the scan arrives pre-split and maxPartitionBytes
    # does this job — the tiny doc-row shuffle is bench-scale insurance.
    d = load_table_parallel(spark, sf_dir, "documents")
    base = d.selectExpr(
        "doc_id", "source", r"split(trim(text), '\\s+') AS tk"
    ).selectExpr(
        "doc_id",
        "source",
        "tk",
        "transform(filter(sequence(1, size(tk)), i -> i % 5 != 0),"
        " i -> element_at(tk, i)) AS ck",
    )

    def grams(col: str) -> str:
        return (
            f"CASE WHEN size({col}) >= n THEN transform("
            f"sequence(1, size({col}) - n + 1),"
            f" i -> concat_ws(' ', slice({col}, i, n)))"
            f" ELSE array() END"
        )

    withn = base.select(
        "doc_id", "source", "tk", "ck",
        F.explode(F.expr("sequence(1, 4)")).alias("n"),
    )
    cand = withn.select(
        "doc_id", "source", "n", F.explode(F.expr(grams("ck"))).alias("gram")
    )
    ref = withn.select(
        "doc_id", "n", F.explode(F.expr(grams("tk"))).alias("gram")
    )
    cc = cand.groupBy("doc_id", "source", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    rc = ref.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("r"))
    cl = (
        cc.join(rc, ["doc_id", "n", "gram"], "left")
        .groupBy("source", "n")
        .agg(
            F.sum(F.least(F.col("c"), F.coalesce(F.col("r"), F.lit(0))))
            .cast("bigint")
            .alias("m"),
            F.sum("c").cast("bigint").alias("t"),
        )
    )
    piv = cl.groupBy("source").agg(
        *[
            agg
            for k in (1, 2, 3, 4)
            for agg in (
                F.sum(F.when(F.col("n") == k, F.col("m")))
                .cast("bigint")
                .alias(f"m{k}"),
                F.sum(F.when(F.col("n") == k, F.col("t")))
                .cast("bigint")
                .alias(f"t{k}"),
            )
        ]
    )
    lens = base.groupBy("source").agg(
        F.sum(F.size("tk")).cast("bigint").alias("r_len"),
        F.sum(F.size("ck")).cast("bigint").alias("c_len"),
    )
    return piv.join(lens, "source").selectExpr(
        "source", "c_len", "r_len", *_BLEU_PREC_SQL, _BLEU_FINAL_SQL
    )


# ------------------------------------------------------------- round 9
@register(
    "ks_test_two_sample",
    oracle="""
    WITH s AS (
      SELECT c.c_mktsegment AS seg,
             CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    g AS (
      SELECT cents,
             CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS b
      FROM s GROUP BY cents
    ),
    cum AS (
      SELECT CAST(sum(a) OVER (ORDER BY cents) AS BIGINT) AS ca,
             CAST(sum(b) OVER (ORDER BY cents) AS BIGINT) AS cb
      FROM g
    ),
    t AS (
      SELECT CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2 FROM g
    )
    SELECT t.n1, t.n2,
           CAST(max(abs(cum.ca * t.n2 - cum.cb * t.n1)) AS BIGINT) AS d_num,
           round(CAST(max(abs(cum.ca * t.n2 - cum.cb * t.n1)) AS DOUBLE)
                 / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)), 6) AS ks_d
    FROM cum CROSS JOIN t
    GROUP BY t.n1, t.n2
    """,
    doc="Two-sample Kolmogorov-Smirnov test between the order-price "
    "distributions of two customer segments — the nonparametric "
    "distribution-drift check that complements drift_psi_monitor's "
    "binned PSI (KS needs no bin choice and is sensitive anywhere on "
    "the CDF). Cross-engine exactness: prices land on an integer cent "
    "grid, per-value group counts are exact integer sums, and the KS "
    "supremum is computed on the INTEGER lattice |ca*n2 - cb*n1| (the "
    "ECDF difference scaled by n1*n2), so the argmax never sits on a "
    "float boundary; the single double division happens once, on the "
    "final 1-row projection. Scale shape: one keyed aggregate collapses "
    "the row space to the distinct-price domain (value-bounded: the "
    "cent grid, ~1e6 values at any SF) before the cumulative window, "
    "so the single-partition sort is O(domain), not O(rows) — the same "
    "bounded-domain argument as median_histogram_cdf; for unbounded "
    "domains the standard rewrite is range-partitioned prefix sums "
    "(per-partition partials + broadcast offsets). The totals join is "
    "a broadcast 1-row frame. Ref: no reference analog; Kolmogorov-"
    "Smirnov statistic per the classic definition.",
)
def q_ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    )
    s = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    g = s.groupBy("cents").agg(
        F.sum(F.when(F.col("seg") == "BUILDING", 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("seg") == "MACHINERY", 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = g.select(
        F.sum("a").over(w).cast("bigint").alias("ca"),
        F.sum("b").over(w).cast("bigint").alias("cb"),
    )
    tot = g.agg(
        F.sum("a").cast("bigint").alias("n1"), F.sum("b").cast("bigint").alias("n2")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1")))
            .cast("bigint")
            .alias("d_num"),
            F.round(
                F.max(
                    F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1"))
                ).cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double")),
                6,
            ).alias("ks_d"),
        )
        .select("n1", "n2", "d_num", "ks_d")
    )


@register(
    "cusum_revenue_shift",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS x_cents
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(x_cents) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n
      FROM daily
    ),
    dev AS (
      SELECT d.day, d.x_cents,
             CAST(t.total // t.n AS BIGINT) AS k,
             d.x_cents - (t.total // t.n) AS dev
      FROM daily d CROSS JOIN t
    ),
    c AS (
      SELECT day, x_cents, k,
             CAST(sum(dev) OVER (ORDER BY day) AS BIGINT) AS cum
      FROM dev
    )
    SELECT day, x_cents,
           CAST(cum - least(CAST(0 AS BIGINT),
                            min(cum) OVER (ORDER BY day)) AS BIGINT) AS s_cents,
           (cum - least(CAST(0 AS BIGINT), min(cum) OVER (ORDER BY day))) > k
             AS flagged
    FROM c
    ORDER BY day
    """,
    doc="One-sided CUSUM change-point detection on daily revenue — the "
    "sequential shift detector next to drift_psi_monitor (distribution "
    "snapshots) and ks_test_two_sample (two-sample): CUSUM accumulates "
    "small sustained deviations that per-day thresholds miss. The "
    "recursive fold S_t = max(0, S_{t-1} + x_t - k) is not a window "
    "function, but its classic prefix rewrite IS: with cum_t the "
    "running sum of deviations, S_t = cum_t - min(0, min_{i<=t} cum_i) "
    "— two same-sort window passes (running sum, running min), which "
    "Spark executes on ONE sort. Cross-engine exactness: deviations "
    "are integer cents against an integer reference k = total div "
    "n_days (broadcast 1-row frame), so every S_t and every flag "
    "comparison is exact 64-bit arithmetic — no float accumulates "
    "across the fold. Scale shape: the fact scan collapses to the "
    "calendar-day domain before any window (bounded: ~36.5k rows per "
    "century), the same bounded-domain argument as xcorr_daily_lags; "
    "per-key CUSUM over users/segments partitions the same two "
    "windows. Ref: no reference analog; CUSUM per Page (1954), "
    "prefix-min identity per the standard treatment.",
)
def q_cusum_revenue_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("x_cents")
    )
    t = daily.agg(
        F.sum("x_cents").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    dev = daily.crossJoin(F.broadcast(t)).select(
        "day",
        "x_cents",
        F.expr("total div n").cast("bigint").alias("k"),
        (F.col("x_cents") - F.expr("total div n")).alias("dev"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = dev.select(
        "day", "x_cents", "k", F.sum("dev").over(w).cast("bigint").alias("cum")
    )
    s = c.select(
        "day",
        "x_cents",
        "k",
        (
            F.col("cum")
            - F.least(F.lit(0).cast("bigint"), F.min("cum").over(w))
        ).cast("bigint").alias("s_cents"),
    )
    return s.select(
        "day", "x_cents", "s_cents", (F.col("s_cents") > F.col("k")).alias("flagged")
    ).orderBy("day")


@register(
    "eval_spearman_corr",
    oracle="""
    WITH base AS (
      SELECT c.c_mktsegment AS segment,
             CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS x,
             CAST(count(o.o_orderkey) AS BIGINT) AS y
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, c.c_custkey, c.c_acctbal
    ),
    hx AS (SELECT segment, x, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY segment, x),
    rx AS (
      SELECT segment, x,
             2 * (CAST(sum(c) OVER (PARTITION BY segment ORDER BY x) AS BIGINT) - c)
               + c + 1 AS r2x
      FROM hx
    ),
    hy AS (SELECT segment, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY segment, y),
    ry AS (
      SELECT segment, y,
             2 * (CAST(sum(c) OVER (PARTITION BY segment ORDER BY y) AS BIGINT) - c)
               + c + 1 AS r2y
      FROM hy
    ),
    ranked AS (
      SELECT b.segment, rx.r2x, ry.r2y
      FROM base b
      JOIN rx ON rx.segment = b.segment AND rx.x = b.x
      JOIN ry ON ry.segment = b.segment AND ry.y = b.y
    ),
    s AS (
      SELECT segment,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r2x) AS BIGINT) AS sx,
             CAST(sum(r2y) AS BIGINT) AS sy,
             CAST(sum(r2x * r2x) AS BIGINT) AS sxx,
             CAST(sum(r2y * r2y) AS BIGINT) AS syy,
             CAST(sum(r2x * r2y) AS BIGINT) AS sxy
      FROM ranked GROUP BY segment
    )
    SELECT segment, n AS n_customers,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0
           END AS spearman_rho
    FROM s
    ORDER BY segment
    """,
    doc="Spearman rank correlation between customer account balance and "
    "order count, per segment — the nonparametric association measure "
    "missing next to xcorr_daily_lags' Pearson (Spearman is Pearson "
    "on RANKS: monotone association without linearity, robust to the "
    "heavy-tailed balances). Tie handling is the textbook midrank, "
    "made integer-exact by DOUBLING: the midrank of a tie group is "
    "(lo+hi)/2, so 2*midrank = 2*count(<v) + count(=v) + 1 is always "
    "an integer — computed from a per-(segment,value) histogram plus "
    "a cumulative window over the DISTINCT-value domain (the same "
    "hot-group-safe histogram-CDF form as winsorize_group_clip; no "
    "per-row rank sort), and doubling cancels in the correlation. "
    "All six sufficient statistics are exact BIGINT sums (sxx ~ 4n^3/3 "
    "fits int64 to n~1.3e6 per segment); the variance terms n*sxx - "
    "sx*sx reach ~4n^4/3 (int64 overflow near n~5e4), so they are "
    "computed — round-9 advice fix — in DOUBLE over the exact BIGINT "
    "stats: a fixed IEEE expression shape evaluated bit-identically "
    "by both engines (relative error ~1e-15, far inside the 1e-6 "
    "output rounding; no overflow at any n), rounded at the "
    "projection; zero-variance segments yield NULL by the CASE "
    "guard, not a 0/0. Scale: two histogram "
    "aggregates + two broadcast-sized rank joins keyed on "
    "(segment, value) + one partial->final stats aggregate. Ref: no "
    "reference analog; Spearman rho with midrank ties per the "
    "classic definition.",
)
def q_eval_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    base = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_custkey"),
            F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("x"),
        )
        .agg(F.count("o_orderkey").cast("bigint").alias("y"))
        .select("segment", "x", "y")
    )

    def doubled_ranks(df: DataFrame, col: str, out: str) -> DataFrame:
        h = df.groupBy("segment", col).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        w = Window.partitionBy("segment").orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return h.select(
            "segment",
            col,
            (2 * (F.sum("c").over(w).cast("bigint") - F.col("c")) + F.col("c") + 1)
            .cast("bigint")
            .alias(out),
        )

    rx = doubled_ranks(base, "x", "r2x")
    ry = doubled_ranks(base, "y", "r2y")
    ranked = base.join(rx, ["segment", "x"]).join(ry, ["segment", "y"])
    s = ranked.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r2x").cast("bigint").alias("sx"),
        F.sum("r2y").cast("bigint").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2x")).cast("bigint").alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).cast("bigint").alias("syy"),
        F.sum(F.col("r2x") * F.col("r2y")).cast("bigint").alias("sxy"),
    )
    def d(name: str):
        return F.col(name).cast("double")

    vx = d("n") * d("sxx") - d("sx") * d("sx")
    vy = d("n") * d("syy") - d("sy") * d("sy")
    num = d("n") * d("sxy") - d("sx") * d("sy")
    return (
        s.select(
            "segment",
            F.col("n").alias("n_customers"),
            F.when(
                (vx > 0) & (vy > 0),
                F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6),
            ).alias("spearman_rho"),
        )
        .orderBy("segment")
    )


# ------------------------------------------------------------- round 10
PASS_AT_K = 3


@register(
    "eval_pass_at_k",
    oracle=f"""
    WITH tasks AS (
      SELECT o.o_orderkey, o.o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l.l_quantity >= CAST(25 AS DOUBLE)
                           THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority
      HAVING count(*) >= {PASS_AT_K}
    ),
    per_task AS (
      SELECT priority,
             CASE WHEN n - c < {PASS_AT_K} THEN CAST(1000000 AS BIGINT)
                  ELSE CAST(floor(
                    (CAST(1 AS DOUBLE)
                     - CAST((n - c) * (n - c - 1) * (n - c - 2) AS DOUBLE)
                       / CAST(n * (n - 1) * (n - 2) AS DOUBLE)) * 1000000
                    + CAST(0.5 AS DOUBLE)) AS BIGINT)
             END AS millionths
      FROM tasks
    )
    SELECT priority,
           CAST(count(*) AS BIGINT) AS n_tasks,
           round(CAST(sum(millionths) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / CAST(1000000 AS DOUBLE),
                 6) AS pass_at_k
    FROM per_task
    GROUP BY priority
    ORDER BY priority
    """,
    doc=f"pass@k (k={PASS_AT_K}) — THE code-generation eval metric, by "
    "the unbiased estimator of the Codex paper: per task with n "
    "sampled attempts and c successes, pass@k = 1 - C(n-c,k)/C(n,k), "
    "averaged per group. Tasks are orders, attempts their lineitems, "
    "an attempt succeeds when l_quantity >= 25 — deterministic stand-"
    "ins for (problem, sample, unit-test verdict). Cross-engine "
    "exactness: the combinatorial ratio is a closed-form integer "
    "product for fixed k=3 (n <= 13 here, products <= 1716 — no "
    "factorial overflow; at general n,k use the telescoped "
    "prod((n-c-i)/(n-i)) form), the per-task estimate is quantized "
    "to integer MILLIONTHS with half-up floor so the group sum is an "
    "exact BIGINT (double sums across groups are order-sensitive; "
    "integer sums are not), and the single division rounds at the "
    "projection. int64 headroom (audited round 11): the widest term "
    "is f*(f-1)*(f-2) <= n^3, exact up to n = 2_097_151 samples per "
    "task (planted worst case at n = 2e6 in "
    "tests/test_mining_operators.py); the millionths group sum holds "
    "to 9.2e12 tasks per group. Scale: one keyed aggregate over "
    "lineitem, one partial->final per-priority aggregate. Ref: no "
    "reference analog; estimator per the public Codex/HumanEval "
    "formulation.",
)
def q_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    k = PASS_AT_K
    tasks = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.when(F.col("l_quantity") >= F.lit(25).cast("double"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("c"),
        )
        .where(F.col("n") >= k)
    )
    f = F.col("n") - F.col("c")
    ratio = (
        F.lit(1).cast("double")
        - (f * (f - 1) * (f - 2)).cast("double")
        / (F.col("n") * (F.col("n") - 1) * (F.col("n") - 2)).cast("double")
    )
    per_task = tasks.select(
        "priority",
        F.when(f < k, F.lit(1_000_000).cast("bigint"))
        .otherwise(F.floor(ratio * 1_000_000 + F.lit(0.5).cast("double")).cast("bigint"))
        .alias("millionths"),
    )
    return (
        per_task.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tasks"),
            F.round(
                F.sum("millionths").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1_000_000).cast("double"),
                6,
            ).alias("pass_at_k"),
        )
        .orderBy("priority")
    )


@register(
    "eval_cohens_kappa",
    oracle="""
    WITH labeled AS (
      SELECT lang,
             CAST(n_chars % 3 AS BIGINT) AS ann_a,
             CAST((n_chars + doc_id) % 3 AS BIGINT) AS ann_b
      FROM documents
    ),
    s AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN ann_a = ann_b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
             CAST(sum(CASE WHEN ann_a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
             CAST(sum(CASE WHEN ann_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             CAST(sum(CASE WHEN ann_a = 2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
             CAST(sum(CASE WHEN ann_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
             CAST(sum(CASE WHEN ann_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
             CAST(sum(CASE WHEN ann_b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS b2
      FROM labeled GROUP BY lang
    )
    SELECT lang, n AS n_items,
           round(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_observed,
           round(CAST(a0 * b0 + a1 * b1 + a2 * b2 AS DOUBLE)
                 / CAST(n * n AS DOUBLE), 6) AS p_expected,
           CASE WHEN n * n <> a0 * b0 + a1 * b1 + a2 * b2
                THEN round(CAST(n * agree - (a0 * b0 + a1 * b1 + a2 * b2) AS DOUBLE)
                           / CAST(n * n - (a0 * b0 + a1 * b1 + a2 * b2) AS DOUBLE), 6)
           END AS kappa
    FROM s
    ORDER BY lang
    """,
    doc="Cohen's kappa — inter-annotator agreement corrected for "
    "chance, THE label-quality gate before an annotation batch "
    "enters training data. Two simulated annotators label each "
    "document into 3 classes (deterministic functions of n_chars / "
    "doc_id standing in for two raters' outputs); per language: "
    "po = agreement rate, pe = sum of marginal products, kappa = "
    "(po - pe)/(1 - pe). Cross-engine exactness: every count and "
    "marginal product is BIGINT (n <= ~1e9 per lang keeps n*n and "
    "the marginal products inside int64 at any realistic SF... "
    "n*agree <= n^2 ~ 1e18 is the ceiling — past that the nine "
    "counts move to DECIMAL), kappa reduces to the integer-exact "
    "form (n*agree - sum_products)/(n^2 - sum_products) with ONE "
    "double division rounded at the projection, and the degenerate "
    "pe=1 case yields NULL by the CASE guard. Scale: one "
    "partial->final nine-way conditional aggregate per language — "
    "the contingency table never materializes per-cell rows. Ref: "
    "no reference analog; Cohen 1960 formulation.",
)
def q_eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    labeled = d.select(
        "lang",
        (F.col("n_chars") % 3).cast("bigint").alias("ann_a"),
        ((F.col("n_chars") + F.col("doc_id")) % 3).cast("bigint").alias("ann_b"),
    )
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731
    s = labeled.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        cnt(F.col("ann_a") == F.col("ann_b")).alias("agree"),
        *[cnt(F.col("ann_a") == i).alias(f"a{i}") for i in range(3)],
        *[cnt(F.col("ann_b") == i).alias(f"b{i}") for i in range(3)],
    )
    prods = (
        F.col("a0") * F.col("b0") + F.col("a1") * F.col("b1") + F.col("a2") * F.col("b2")
    )
    nn = F.col("n") * F.col("n")
    return (
        s.select(
            "lang",
            F.col("n").alias("n_items"),
            F.round(F.col("agree").cast("double") / F.col("n").cast("double"), 6).alias(
                "p_observed"
            ),
            F.round(prods.cast("double") / nn.cast("double"), 6).alias("p_expected"),
            F.when(
                nn != prods,
                F.round(
                    (F.col("n") * F.col("agree") - prods).cast("double")
                    / (nn - prods).cast("double"),
                    6,
                ),
            ).alias("kappa"),
        )
        .orderBy("lang")
    )


BT_ROUNDS = 3


def _bt_oracle() -> str:
    rounds = []
    prev = "p0"
    for t in range(1, BT_ROUNDS + 1):
        rounds.append(f"""
    d{t} AS (
      SELECT s.i, sum(CAST(s.n AS DOUBLE) / nullif(pi.p + pj.p, CAST(0 AS DOUBLE)))
               AS den
      FROM sym s
      JOIN {prev} pi ON pi.i = s.i
      JOIN {prev} pj ON pj.i = s.j
      GROUP BY s.i
    ),
    r{t} AS (
      SELECT w.i, CAST(w.w AS DOUBLE) / d{t}.den AS praw
      FROM wins w JOIN d{t} ON d{t}.i = w.i
    ),
    p{t} AS (
      SELECT i, round(praw / (SELECT sum(praw) FROM r{t}), 12) AS p FROM r{t}
    )""")
        prev = f"p{t}"
    return f"""
    WITH comp AS (
      SELECT least(a.source, b.source) AS s1,
             greatest(a.source, b.source) AS s2,
             CASE WHEN (a.n_chars > b.n_chars) = (a.source < b.source)
                  THEN 1 ELSE 0 END AS w1
      FROM documents a
      JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.source <> b.source AND a.n_chars <> b.n_chars
    ),
    m AS (
      SELECT s1, s2, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(w1) AS BIGINT) AS w1
      FROM comp GROUP BY s1, s2
    ),
    sym AS (
      SELECT s1 AS i, s2 AS j, n FROM m
      UNION ALL
      SELECT s2, s1, n FROM m
    ),
    wins AS (
      SELECT i, CAST(sum(w) AS BIGINT) AS w
      FROM (SELECT s1 AS i, w1 AS w FROM m
            UNION ALL
            SELECT s2, n - w1 FROM m)
      GROUP BY i
    ),
    games AS (SELECT i, CAST(sum(n) AS BIGINT) AS g FROM sym GROUP BY i),
    p0 AS (
      SELECT i, CAST(1 AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM wins) AS p
      FROM wins
    ),
    {','.join(rounds)}
    SELECT p.i AS source, g.g AS games, w.w AS wins,
           round(p.p, 6) AS strength
    FROM p{BT_ROUNDS} p
    JOIN games g ON g.i = p.i
    JOIN wins w ON w.i = p.i
    ORDER BY strength DESC, source ASC
    """


@register(
    "rank_bradley_terry",
    oracle=_bt_oracle(),
    doc=f"Bradley-Terry pairwise-preference ranking ({BT_ROUNDS} "
    "minorization-maximization rounds) — THE arena-style model-"
    "ranking method: latent strengths p_i such that "
    "P(i beats j) = p_i/(p_i + p_j), fit by Hunter's MM update "
    "p_i' = W_i / sum_j n_ij/(p_i + p_j), normalized each round. "
    "Comparisons derive deterministically from consecutive document "
    "pairs of different sources (longer n_chars wins, ties skipped) "
    "standing in for human preference votes between model outputs. "
    "The determinism contract is the bounded-round unrolling "
    "(graph_minplus_distance's pattern): the oracle unrolls the "
    "identical rounds as CTEs; intermediate strengths round to 12 "
    "decimals each round so double-sum association noise cannot "
    "accumulate, the final projection rounds to 6. Scale: the "
    "quadratic never materializes — comparisons aggregate to the "
    "(source x source) match matrix FIRST (one keyed aggregate over "
    "an adjacent-id self-join), and each MM round is two broadcast-"
    "sized joins + one keyed aggregate over a matrix bounded by "
    "#models^2, with O(1) driver state. Ref: no reference analog; "
    "Bradley-Terry 1952 / Hunter 2004 MM formulation.",
)
def q_rank_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    a, b = d.alias("a"), d.alias("b")
    comp = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .where(
            (F.col("a.source") != F.col("b.source"))
            & (F.col("a.n_chars") != F.col("b.n_chars"))
        )
        .select(
            F.least(F.col("a.source"), F.col("b.source")).alias("s1"),
            F.greatest(F.col("a.source"), F.col("b.source")).alias("s2"),
            F.when(
                (F.col("a.n_chars") > F.col("b.n_chars"))
                == (F.col("a.source") < F.col("b.source")),
                1,
            )
            .otherwise(0)
            .alias("w1"),
        )
    )
    m = (
        comp.groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("w1").cast("bigint").alias("w1"),
        )
        .localCheckpoint(eager=False)
    )
    sym = m.select(F.col("s1").alias("i"), F.col("s2").alias("j"), "n").unionByName(
        m.select(F.col("s2").alias("i"), F.col("s1").alias("j"), "n")
    )
    wins = (
        m.select(F.col("s1").alias("i"), F.col("w1").alias("w"))
        .unionByName(m.select(F.col("s2").alias("i"), (F.col("n") - F.col("w1")).alias("w")))
        .groupBy("i")
        .agg(F.sum("w").cast("bigint").alias("w"))
        .localCheckpoint(eager=False)
    )
    games = sym.groupBy("i").agg(F.sum("n").cast("bigint").alias("g"))
    whole = Window.partitionBy()
    p = wins.select(
        "i",
        (F.lit(1).cast("double") / F.count(F.lit(1)).over(whole).cast("double")).alias(
            "p"
        ),
    )
    for _ in range(BT_ROUNDS):
        pi = p.select(F.col("i").alias("pi_i"), F.col("p").alias("pi_p"))
        pj = p.select(F.col("i").alias("pj_i"), F.col("p").alias("pj_p"))
        den = (
            sym.join(F.broadcast(pi), F.col("i") == F.col("pi_i"))
            .join(F.broadcast(pj), F.col("j") == F.col("pj_i"))
            .groupBy("i")
            .agg(
                F.sum(
                    F.col("n").cast("double")
                    / F.nullif(F.col("pi_p") + F.col("pj_p"), F.lit(0).cast("double"))
                ).alias("den")
            )
        )
        r = wins.join(den, "i").select(
            "i", (F.col("w").cast("double") / F.col("den")).alias("praw")
        )
        p = r.select(
            "i", F.round(F.col("praw") / F.sum("praw").over(whole), 12).alias("p")
        )
    return (
        p.join(games, "i")
        .join(wins, "i")
        .select(
            F.col("i").alias("source"),
            F.col("g").alias("games"),
            F.col("w").alias("wins"),
            F.round("p", 6).alias("strength"),
        )
        .orderBy(F.col("strength").desc(), F.col("source").asc())
    )


@register(
    "eval_mcnemar_test",
    oracle="""
    WITH paired AS (
      SELECT (n_chars % 5 IN (0, 1, 2)) AS model_a_correct,
             (n_chars % 3 IN (0, 1)) AS model_b_correct
      FROM documents
    ),
    s AS (
      SELECT
        CAST(count(*) AS BIGINT) AS n_items,
        CAST(sum(CASE WHEN model_a_correct AND NOT model_b_correct
                      THEN 1 ELSE 0 END) AS BIGINT) AS b_discordant,
        CAST(sum(CASE WHEN NOT model_a_correct AND model_b_correct
                      THEN 1 ELSE 0 END) AS BIGINT) AS c_discordant
      FROM paired
    )
    SELECT n_items, b_discordant, c_discordant,
           CASE WHEN b_discordant + c_discordant > 0
                THEN round(CAST((b_discordant - c_discordant)
                                * (b_discordant - c_discordant) AS DOUBLE)
                           / CAST(b_discordant + c_discordant AS DOUBLE), 6)
           END AS chi2_statistic,
           (b_discordant + c_discordant >= 25
            AND CAST((b_discordant - c_discordant)
                     * (b_discordant - c_discordant) AS DOUBLE)
                / CAST(b_discordant + c_discordant AS DOUBLE)
                > CAST(3.841459 AS DOUBLE)) AS significant_05
    FROM s
    """,
    doc="McNemar's test — the PAIRED model-comparison significance "
    "test (are model A and B's per-item verdicts on the SAME eval "
    "set different beyond chance?), the statistically sound way to "
    "compare two checkpoints on one benchmark: only the DISCORDANT "
    "pairs carry signal (b = A right/B wrong, c = the reverse), "
    "chi2 = (b-c)^2/(b+c) against the 3.84 critical value at "
    "alpha=0.05 (df=1; the classic large-sample form — continuity "
    "correction and exact-binomial small-sample variants note the "
    "b+c >= 25 applicability guard emitted alongside). Verdicts "
    "derive deterministically from n_chars residues standing in for "
    "two models' per-item scores. Cross-engine exactness: b and c "
    "are exact BIGINT counts off ONE partial->final conditional "
    "aggregate, the statistic is a single integer-ratio division "
    "rounded at the projection, zero-discordance yields NULL by the "
    "CASE guard. Scale: map-only verdict derivation + one global "
    "aggregate; nothing shuffles but partials. Ref: no reference "
    "analog; McNemar 1947 formulation.",
)
def q_eval_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    paired = d.select(
        (F.col("n_chars") % 5).isin(0, 1, 2).alias("a_ok"),
        (F.col("n_chars") % 3).isin(0, 1).alias("b_ok"),
    )
    s = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(F.when(F.col("a_ok") & ~F.col("b_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("b_discordant"),
        F.sum(F.when(~F.col("a_ok") & F.col("b_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_discordant"),
    )
    b, c = F.col("b_discordant"), F.col("c_discordant")
    chi2 = ((b - c) * (b - c)).cast("double") / (b + c).cast("double")
    return s.select(
        "n_items",
        "b_discordant",
        "c_discordant",
        F.when(b + c > 0, F.round(chi2, 6)).alias("chi2_statistic"),
        ((b + c >= 25) & (chi2 > F.lit(3.841459).cast("double"))).alias(
            "significant_05"
        ),
    )


@register(
    "eval_f1_per_class",
    oracle="""
    WITH verdicts AS (
      SELECT CAST(n_chars % 3 AS BIGINT) AS y_true,
             CAST((n_chars + doc_id) % 3 AS BIGINT) AS y_pred
      FROM documents
    ),
    classes AS (SELECT unnest(range(0, 3)) AS cls),
    s AS (
      SELECT c.cls,
             CAST(sum(CASE WHEN v.y_true = c.cls AND v.y_pred = c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN v.y_pred = c.cls AND v.y_true <> c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN v.y_true = c.cls AND v.y_pred <> c.cls
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM classes c, verdicts v
      GROUP BY c.cls
    )
    SELECT cls, tp, fp, fn,
           CASE WHEN tp + fp > 0
                THEN round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
           END AS precision_,
           CASE WHEN tp + fn > 0
                THEN round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
           END AS recall_,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN round(CAST(2 * tp AS DOUBLE)
                           / CAST(2 * tp + fp + fn AS DOUBLE), 6)
           END AS f1
    FROM s
    ORDER BY cls
    """,
    doc="Per-class precision / recall / F1 from a multi-class confusion "
    "matrix — the classifier-eval table every labeling pipeline "
    "prints. True/predicted labels derive deterministically from "
    "n_chars / doc_id residues (the same simulated-annotator pair as "
    "eval_cohens_kappa, so the two entries cross-check each other). "
    "F1 uses the integer identity 2tp/(2tp+fp+fn) — never the "
    "two-stage harmonic mean of already-rounded P and R, which "
    "compounds rounding. Cross-engine exactness: tp/fp/fn are exact "
    "BIGINT counts, each output is ONE integer-ratio division "
    "rounded at the projection, empty denominators yield NULL by "
    "CASE guards. Spark computes the per-class counts WITHOUT the "
    "oracle's class cross join: one aggregate per (y_true, y_pred) "
    "cell (at most 9 rows), then three keyed reductions — at 100 TB "
    "the verdict table collapses to the 9-cell matrix in a single "
    "partial->final pass. Ref: no reference analog; standard "
    "classification-metrics definitions.",
)
def q_eval_f1_per_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    v = d.select(
        (F.col("n_chars") % 3).cast("bigint").alias("y_true"),
        ((F.col("n_chars") + F.col("doc_id")) % 3).cast("bigint").alias("y_pred"),
    )
    cells = v.groupBy("y_true", "y_pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    classes = load_table(spark, sf_dir, "documents").sparkSession.range(3).select(
        F.col("id").cast("bigint").alias("cls")
    )
    tp = cells.where(F.col("y_true") == F.col("y_pred")).select(
        F.col("y_true").alias("cls"), F.col("n").alias("tp")
    )
    fp = (
        cells.where(F.col("y_true") != F.col("y_pred"))
        .groupBy(F.col("y_pred").alias("cls"))
        .agg(F.sum("n").cast("bigint").alias("fp"))
    )
    fn = (
        cells.where(F.col("y_true") != F.col("y_pred"))
        .groupBy(F.col("y_true").alias("cls"))
        .agg(F.sum("n").cast("bigint").alias("fn"))
    )
    s = (
        classes.join(F.broadcast(tp), "cls", "left")
        .join(F.broadcast(fp), "cls", "left")
        .join(F.broadcast(fn), "cls", "left")
        .fillna(0, subset=["tp", "fp", "fn"])
    )
    tpc, fpc, fnc = F.col("tp"), F.col("fp"), F.col("fn")
    return (
        s.select(
            "cls",
            "tp",
            "fp",
            "fn",
            F.when(
                tpc + fpc > 0,
                F.round(tpc.cast("double") / (tpc + fpc).cast("double"), 6),
            ).alias("precision_"),
            F.when(
                tpc + fnc > 0,
                F.round(tpc.cast("double") / (tpc + fnc).cast("double"), 6),
            ).alias("recall_"),
            F.when(
                2 * tpc + fpc + fnc > 0,
                F.round(
                    (2 * tpc).cast("double") / (2 * tpc + fpc + fnc).cast("double"), 6
                ),
            ).alias("f1"),
        )
        .orderBy("cls")
    )


MINPLUS_FIXPOINT_MAX_ROUNDS = 64
MINPLUS_FIXPOINT_ORACLE_ROUNDS = 10


def _minplus_fixpoint_oracle() -> str:
    rounds = []
    prev = "d0"
    for t in range(1, MINPLUS_FIXPOINT_ORACLE_ROUNDS + 1):
        rounds.append(f"""
    r{t} AS MATERIALIZED (
      SELECT t AS node, min({prev}.dist + e.w) AS dist
      FROM e JOIN {prev} ON e.s = {prev}.node GROUP BY t
      UNION ALL SELECT node, dist FROM {prev}
    ),
    d{t} AS MATERIALIZED (SELECT node, min(dist) AS dist FROM r{t} GROUP BY node)""")
        prev = f"d{t}"
    return f"""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(101 - least(count(*), 100) AS BIGINT) AS w
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb HAVING count(*) >= {KHOP_MIN_SUPPORT}
    ),
    e AS MATERIALIZED (SELECT pa AS s, pb AS t, w FROM p
          UNION ALL SELECT pb, pa, w FROM p),
    seed AS (SELECT min(s) AS node FROM e),
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM seed),
    {','.join(rounds)}
    SELECT node, CAST(dist AS BIGINT) AS dist
    FROM d{MINPLUS_FIXPOINT_ORACLE_ROUNDS}
    ORDER BY dist ASC, node ASC
    """


@register(
    "graph_minplus_fixpoint",
    oracle=_minplus_fixpoint_oracle(),
    doc="The RUN-TO-CONVERGENCE twin of graph_minplus_distance "
    "(completing the fixpoint roster: components and k-core have "
    "theirs; this closes single-source shortest paths): Bellman-Ford "
    "relaxation loops until a (reached-count, distance-sum) probe "
    "stops moving — sound because the reached set only GROWS and "
    "every reached distance only DECREASES, so the integer pair is "
    "strictly monotone until the fixpoint; the loop raises rather "
    "than return a non-fixpoint if the round cap is hit (negative "
    "edges impossible here — weights are 101-min(support,100) >= 1). "
    f"The DuckDB twin unrolls {MINPLUS_FIXPOINT_ORACLE_ROUNDS} "
    "MATERIALIZED rounds (rounds past convergence are idempotent at "
    "the fixpoint; pytest asserts convergence well inside the unroll "
    "at sf0.001; materialization stops DuckDB's CTE inlining from "
    "exponentiating the round tree — the k-core lesson). Per-round "
    "Spark shape: broadcast frontier join + min aggregate (the "
    "min-plus semiring on the Pregel exchange shape), lazy "
    "localCheckpoint materialized by the probe, O(1) driver state. "
    "Ref: no reference analog; Bellman-Ford per the classic "
    "formulation.",
)
def q_graph_minplus_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import fixpoint

    def probe(cur: DataFrame) -> tuple:
        row = cur.agg(F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")).first()
        return (row["n"], row["s"])

    e, seed = _minplus_graph(spark, sf_dir)
    # the loop starts from the first relaxation (the 1-row seed's probe
    # would cost jobs of its own), i.e. from the twin's d1, which leaves
    # the twin one round less of unroll for the loop
    cur, _ = fixpoint(
        _relax_round(e, seed).localCheckpoint(eager=False),
        lambda cur: _relax_round(e, cur),
        probe,
        MINPLUS_FIXPOINT_MAX_ROUNDS,
        "min-plus shortest paths",
        MINPLUS_FIXPOINT_ORACLE_ROUNDS - 1,
    )
    return _by_distance(cur)


KMV_K = 256
_HASH_DOMAIN = 4294967296  # md5-int8 values are uniform in [0, 2^32)


@register(
    "sketch_kmv_intersection",
    oracle=f"""
    WITH ha AS (
      SELECT DISTINCT {_md5_int8_sql("CAST(user_id AS VARCHAR)")} AS h
      FROM events WHERE event_type = 'view'
    ),
    hb AS (
      SELECT DISTINCT {_md5_int8_sql("CAST(user_id AS VARCHAR)")} AS h
      FROM events WHERE event_type = 'purchase'
    ),
    ta AS (
      SELECT CASE WHEN (SELECT count(*) FROM ha) >= {KMV_K}
                  THEN (SELECT h FROM ha ORDER BY h LIMIT 1 OFFSET {KMV_K - 1})
                  ELSE CAST({_HASH_DOMAIN} AS BIGINT) END AS theta_a
    ),
    tb AS (
      SELECT CASE WHEN (SELECT count(*) FROM hb) >= {KMV_K}
                  THEN (SELECT h FROM hb ORDER BY h LIMIT 1 OFFSET {KMV_K - 1})
                  ELSE CAST({_HASH_DOMAIN} AS BIGINT) END AS theta_b
    ),
    theta AS (SELECT least(ta.theta_a, tb.theta_b) AS t FROM ta, tb),
    retained AS (
      SELECT CAST(count(*) AS BIGINT) AS r
      FROM ha JOIN hb ON ha.h = hb.h, theta
      WHERE ha.h < theta.t
    ),
    exact AS (
      SELECT CAST(count(*) AS BIGINT) AS x FROM ha JOIN hb ON ha.h = hb.h
    )
    SELECT CAST({KMV_K} AS BIGINT) AS k,
           theta.t AS theta,
           retained.r AS n_retained,
           round(CAST(retained.r AS DOUBLE)
                 * CAST({_HASH_DOMAIN} AS DOUBLE) / CAST(theta.t AS DOUBLE),
                 4) AS est_intersection,
           exact.x AS exact_intersection
    FROM theta, retained, exact
    """,
    doc=f"Theta/KMV sketch set intersection (k={KMV_K}) — the MERGEABLE "
    "distinct-intersection estimator (Datasketches' theta family): "
    "audience overlap between viewers and purchasers without "
    "shuffling either full id set. Each side keeps its k smallest "
    "distinct portable hashes (the same first-8-md5-hex-digits "
    "BIGINT family as the CMS/HLL sketches — engine-portable by "
    "construction); theta = min of the two k-th order statistics; "
    "the estimate is |retained common hashes below theta| scaled by "
    "the sampled hash fraction, and degrades to EXACT when both "
    "sets fit inside k (theta = the full 2^32 domain). The exact "
    "intersection rides along so the entry self-reports its error. "
    "Cross-engine exactness: hashes, thetas and retained counts are "
    "all BIGINT order statistics (no floats until the single scaled "
    "division, rounded at the projection). Scale: per-set "
    "distinct-hash aggregate + a TakeOrdered(k) per sketch (driver "
    "sees k values, never the id sets), one broadcast-able hash "
    "equi-join for the retained count; union-merging more sketches "
    "keeps the same k bound — the 100 TB path for cross-segment "
    "overlap matrices. Ref: no reference analog; KMV/theta sketch "
    "per the public Datasketches formulation.",
)
def q_sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    # r15: ONE scan + ONE groupBy replaces the two per-event-type
    # scan+distinct pipelines (guide §2.1). h is a pure function of
    # user_id, so grouping the filtered union by h with per-type
    # membership flags yields exactly the two distinct hash sets the
    # old hashes("view")/hashes("purchase") built — same collision
    # semantics, half the scans and shuffles. ha/hb below are cheap
    # filters over the shared checkpoint; everything downstream
    # (theta, common, retained, exact) is unchanged.
    base = (
        ev.where(F.col("event_type").isin("view", "purchase"))
        .select(
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            .alias("h"),
            F.col("event_type").alias("et"),
        )
        .groupBy("h")
        .agg(
            F.max(F.when(F.col("et") == "view", 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("et") == "purchase", 1).otherwise(0)).alias("in_b"),
        )
        .localCheckpoint(eager=False)
    )
    ha = base.where(F.col("in_a") == 1).select("h")
    hb = base.where(F.col("in_b") == 1).select("h")

    def theta(h: DataFrame, name: str) -> DataFrame:
        kth = h.orderBy("h").limit(KMV_K).agg(F.max("h").alias("kth"))
        n = h.agg(F.count(F.lit(1)).alias("n"))
        return (
            kth.crossJoin(F.broadcast(n))
            .select(
                F.when(F.col("n") >= KMV_K, F.col("kth"))
                .otherwise(F.lit(_HASH_DOMAIN).cast("bigint"))
                .alias(name)
            )
        )

    th = (
        theta(ha, "theta_a")
        .crossJoin(F.broadcast(theta(hb, "theta_b")))
        .select(F.least("theta_a", "theta_b").alias("t"))
    )
    common = ha.join(hb, "h")
    retained = (
        common.crossJoin(F.broadcast(th))
        .where(F.col("h") < F.col("t"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    )
    exact = common.agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    return (
        th.crossJoin(F.broadcast(retained))
        .crossJoin(F.broadcast(exact))
        .select(
            F.lit(KMV_K).cast("bigint").alias("k"),
            F.col("t").alias("theta"),
            F.col("r").alias("n_retained"),
            F.round(
                F.col("r").cast("double")
                * F.lit(_HASH_DOMAIN).cast("double")
                / F.col("t").cast("double"),
                4,
            ).alias("est_intersection"),
            F.col("x").alias("exact_intersection"),
        )
    )


_STATS_COLS = (
    # (column, portable min/max representation for cross-engine parity)
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "cents"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "str"),
)


def _stats_oracle() -> str:
    parts = []
    for col, kind in _STATS_COLS:
        if kind == "cents":
            mn = f"CAST(CAST(floor(min({col}) * 100 + 0.5) AS BIGINT) AS VARCHAR)"
            mx = f"CAST(CAST(floor(max({col}) * 100 + 0.5) AS BIGINT) AS VARCHAR)"
        elif kind == "date":
            mn = f"strftime(min({col}), '%Y-%m-%d')"
            mx = f"strftime(max({col}), '%Y-%m-%d')"
        else:
            mn, mx = f"CAST(min({col}) AS VARCHAR)", f"CAST(max({col}) AS VARCHAR)"
        parts.append(f"""
    SELECT '{col}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({col}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
           {mn} AS min_repr, {mx} AS max_repr
    FROM orders""")
    return " UNION ALL ".join(parts) + " ORDER BY column_name"


@register(
    "table_stats_profile",
    oracle=_stats_oracle(),
    doc="ANALYZE TABLE analog — the per-column statistics pass every "
    "cost-based optimizer and data catalog runs: row count, null "
    "count, EXACT distinct count, and min/max per column of orders, "
    "emitted one row per column. The warehouse-surface twin of "
    "fd_discovery_profile (which finds column RELATIONSHIPS; this "
    "is the per-column marginal). Cross-engine exactness: min/max "
    "are emitted in explicitly portable representations (ints as "
    "decimal strings, money as integer cents, timestamps formatted "
    "to date strings) because engine-native double/timestamp->string "
    "casts differ; counts are BIGINT. Plan: Spark computes ALL "
    "columns' stats in ONE aggregate pass over a single scan (the "
    "multi-distinct expand multiplies rows by #columns map-side — "
    "the standard cost of exact NDV; swap approx_count_distinct at "
    "100 TB for one-pass sketched NDV) and unpivots the 1-row "
    "result with stack(); the oracle states the same semantics as "
    "per-column UNION ALL scans. Ref: no reference analog; ANALYZE "
    "semantics per standard warehouse practice.",
)
def q_table_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallel scan: the multi-distinct expand sits directly on the scan
    # (round-10 interleaved A/B at sf0.1: 2.31s -> 0.82s, ratio 0.36)
    o = load_table_parallel(spark, sf_dir, "orders")
    aggs = []
    for col, kind in _STATS_COLS:
        if kind == "cents":
            mn = F.floor(F.min(col) * 100 + 0.5).cast("bigint").cast("string")
            mx = F.floor(F.max(col) * 100 + 0.5).cast("bigint").cast("string")
        elif kind == "date":
            mn = F.date_format(F.min(col), "yyyy-MM-dd")
            mx = F.date_format(F.max(col), "yyyy-MM-dd")
        else:
            mn = F.min(col).cast("string")
            mx = F.max(col).cast("string")
        aggs += [
            (F.count(F.lit(1)) - F.count(col)).cast("bigint").alias(f"nulls_{col}"),
            F.countDistinct(col).cast("bigint").alias(f"ndv_{col}"),
            mn.alias(f"mn_{col}"),
            mx.alias(f"mx_{col}"),
        ]
    one = o.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"), *aggs)
    stack_args = ", ".join(
        f"'{col}', nulls_{col}, ndv_{col}, mn_{col}, mx_{col}"
        for col, _ in _STATS_COLS
    )
    return (
        one.selectExpr(
            "n_rows",
            f"stack({len(_STATS_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, n_distinct, min_repr, max_repr)",
        )
        .select("column_name", "n_rows", "n_nulls", "n_distinct", "min_repr", "max_repr")
        .orderBy("column_name")
    )


SRM_ARMS = 3
SRM_CHI2_CRIT = 13.816  # chi-square df=2, alpha=0.001 — the SRM alarm bar


@register(
    "ab_srm_check",
    oracle=f"""
    WITH assigned AS (
      SELECT {_md5_int8_sql("CAST(c_custkey AS VARCHAR)")} % {SRM_ARMS} AS arm
      FROM customer
    ),
    counts AS (
      SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN arm = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(count(*) AS BIGINT) AS n
      FROM assigned
    )
    SELECT n0, n1, n2, n,
           round((CAST({SRM_ARMS} AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)
                    + CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                    + CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE))
                 - CAST(n AS DOUBLE), 6) AS chi2_statistic,
           ((CAST({SRM_ARMS} AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)
               + CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
               + CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE))
            - CAST(n AS DOUBLE)
            > CAST({SRM_CHI2_CRIT} AS DOUBLE)) AS srm_detected
    FROM counts
    """,
    doc=f"Sample-ratio-mismatch (SRM) check — the experiment-integrity "
    "gate every A/B platform runs BEFORE reading outcomes (a skewed "
    f"assignment invalidates ab_test_welch_ttest downstream): users "
    f"hash-assign to {SRM_ARMS} equal arms via the portable md5 "
    "bucket (deterministic, engine-identical), and the observed arm "
    "counts test against the uniform expectation with the chi-square "
    "goodness-of-fit statistic in its algebraically simplified form "
    "chi2 = (k/n) * sum(n_i^2) - n (exact integer sums inside one "
    f"fixed-shape double expression), alarming above the df={SRM_ARMS - 1} "
    f"alpha=0.001 critical value {SRM_CHI2_CRIT} — SRM practice uses "
    "a strict alpha because the test runs on every experiment every "
    "day. Cross-engine exactness: counts are one partial->final "
    "conditional aggregate; the statistic rounds at the projection. "
    "Scale: map-only hash + one global aggregate. Ref: no reference "
    "analog; SRM chi-square per standard experimentation practice.",
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    arm = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % SRM_ARMS
    )
    counts = c.select(arm.alias("arm")).agg(
        *[
            F.sum(F.when(F.col("arm") == i, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n{i}")
            for i in range(SRM_ARMS)
        ],
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    sq = None
    for i in range(SRM_ARMS):
        term = F.col(f"n{i}").cast("double") * F.col(f"n{i}").cast("double")
        sq = term if sq is None else sq + term
    chi2 = (F.lit(SRM_ARMS).cast("double") / F.col("n").cast("double")) * sq - F.col(
        "n"
    ).cast("double")
    return counts.select(
        "n0",
        "n1",
        "n2",
        "n",
        F.round(chi2, 6).alias("chi2_statistic"),
        (chi2 > F.lit(SRM_CHI2_CRIT).cast("double")).alias("srm_detected"),
    )


# ---------------------------------------------------- isotonic (PAV)
ISO_BINS = 50


@register(
    "eval_isotonic_calibration",
    oracle=f"""
    WITH s AS (
      SELECT round({_CALIB_P_SQL}, 6) AS p6,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    bins AS MATERIALIZED (
      SELECT CAST(least(floor(p6 * {ISO_BINS}), {ISO_BINS - 1}) AS INT)
               AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) AS BIGINT) AS pos
      FROM s GROUP BY bin
    ),
    ivl AS MATERIALIZED (
      SELECT a.bin AS i, b.bin AS j,
             CAST(sum(m.pos) AS DOUBLE) / sum(m.n) AS avg_y
      FROM bins a JOIN bins b ON a.bin <= b.bin
      JOIN bins m ON m.bin >= a.bin AND m.bin <= b.bin
      GROUP BY a.bin, b.bin
    ),
    mn AS (
      SELECT k.bin, v.i, min(v.avg_y) AS lo
      FROM bins k JOIN ivl v ON v.i <= k.bin AND v.j >= k.bin
      GROUP BY k.bin, v.i
    ),
    fit AS (SELECT bin, max(lo) AS iso FROM mn GROUP BY bin)
    SELECT b.bin, b.n,
           round(CAST(b.pos AS DOUBLE) / b.n, 6) AS frac_pos,
           round(f.iso, 6) AS iso_p
    FROM bins b JOIN fit f ON f.bin = b.bin
    ORDER BY b.bin ASC
    """,
    doc="Isotonic-regression probability calibration via the minimax "
    "characterization of PAV (Ayer et al. 1955; Barlow & Brunk 1972: "
    "fitted(k) = max over i<=k of min over j>=k of the weighted mean "
    "of bins i..j) — the nonparametric upgrade over "
    "eval_calibration_bins' raw reliability diagram (and over Platt "
    "scaling, which assumes a sigmoid miscalibration shape): the "
    "monotone step function closest in L2 to the observed "
    "per-score-bin positive rates, which is exactly the calibration "
    "map production rerankers apply to raw model scores. Pool-"
    "adjacent-violators itself is sequential; the minimax form is "
    f"pure relational algebra over the {ISO_BINS}-bin summary — "
    "O(B^3) interval rows (~21k at B=50), all in ONE set of joins "
    "with NO iteration and NO driver loop. The corpus-scale work is "
    "the single partial->final (bin, n, pos) aggregate; everything "
    "after runs on a 50-row frame regardless of data size — the "
    "classic summarize-then-solve split for order-constrained fits. "
    "Determinism: per-bin n/pos are exact integers, interval means "
    "divide once in each engine, min/max over doubles are exact, "
    "output rounds to 6dp. Ref: no reference analog; public PAV "
    "minimax formula.",
)
def q_eval_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = e.select(
        F.round(F.expr(_CALIB_P_SQL), 6).alias("p6"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    bins = (
        s.select(
            F.least(F.floor(F.col("p6") * ISO_BINS), F.lit(ISO_BINS - 1))
            .cast("int")
            .alias("bin"),
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
        .localCheckpoint(eager=True)  # <=50 rows; feeds 4 self-joins
    )
    a, b, m = bins.alias("a"), bins.alias("b"), bins.alias("m")
    ivl = (
        a.join(b, F.col("a.bin") <= F.col("b.bin"))
        .join(
            m,
            (F.col("m.bin") >= F.col("a.bin")) & (F.col("m.bin") <= F.col("b.bin")),
        )
        .groupBy(F.col("a.bin").alias("i"), F.col("b.bin").alias("j"))
        .agg(
            (F.sum("m.pos").cast("double") / F.sum("m.n")).alias("avg_y")
        )
    )
    k, v = bins.alias("k"), ivl.alias("v")
    mn = (
        k.join(v, (F.col("v.i") <= F.col("k.bin")) & (F.col("v.j") >= F.col("k.bin")))
        .groupBy(F.col("k.bin").alias("bin"), F.col("v.i").alias("i"))
        .agg(F.min("v.avg_y").alias("lo"))
    )
    fit = mn.groupBy("bin").agg(F.max("lo").alias("iso"))
    return (
        bins.join(fit, "bin")
        .select(
            "bin",
            "n",
            F.round(F.col("pos").cast("double") / F.col("n"), 6).alias("frac_pos"),
            F.round(F.col("iso"), 6).alias("iso_p"),
        )
        .orderBy(F.col("bin").asc())
    )


# -------------------------------------------- multiple testing (BH FDR)
FDR_ALPHA = 0.05
# Bowling et al. 2009 single-constant logistic approximation of the
# normal CDF: Phi(z) ~ 1/(1+exp(-1.702*z)). Max abs error ~0.0095 —
# fine for a *procedure* test (BH consumes the p-value ORDER plus a
# threshold compare; both engines evaluate the identical expression).
_PHI = "1.0 / (1.0 + exp(-1.702 * ({z})))"


@register(
    "stats_fdr_bh",
    oracle=f"""
    WITH o AS (
      SELECT c.c_nationkey AS nation,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(price) AS DECIMAL(38,2)) AS s1,
             CAST(sum(price * price) AS DECIMAL(38,4)) AS s2
      FROM o
    ),
    per AS (
      SELECT nation, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(price) AS DECIMAL(38,2)) AS s1_g
      FROM o GROUP BY nation
    ),
    z AS (
      SELECT nation, n_g,
             round((CAST(s1_g AS DOUBLE) / n_g - CAST(s1 AS DOUBLE) / n)
                   / sqrt((CAST(s2 AS DOUBLE) / n
                           - (CAST(s1 AS DOUBLE) / n)
                             * (CAST(s1 AS DOUBLE) / n)) / n_g), 6) + 0 AS z
      FROM per CROSS JOIN g
    ),
    p AS (
      SELECT nation, n_g, z,
             round(2.0 * (1.0 - {_PHI.format(z='abs(z)')}), 9) AS p
      FROM z
    ),
    r AS (
      SELECT nation, n_g, z, p,
             CAST(row_number() OVER (ORDER BY p ASC, nation ASC) AS BIGINT)
               AS rnk,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM p
    ),
    k AS (
      SELECT COALESCE(max(rnk), 0) AS kstar
      FROM r WHERE p <= rnk * {FDR_ALPHA} / m
    )
    SELECT nation, n_g, z, round(p, 6) AS p, rnk,
           CASE WHEN rnk <= k.kstar THEN 1 ELSE 0 END AS rejected
    FROM r CROSS JOIN k
    ORDER BY rnk ASC
    """,
    doc="Benjamini-Hochberg FDR-controlled multiple testing (Benjamini & "
    "Hochberg 1995, JRSS-B) over the per-nation order-value z-tests — "
    "the correction every metrics platform applies when it runs one "
    "hypothesis per segment (25 nations = 25 chances for a false "
    f"positive; BH at alpha={FDR_ALPHA} bounds the EXPECTED false-"
    "discovery fraction instead of Bonferroni's family-wise all-or-"
    "nothing). Step-up rule: sort p ascending, reject ranks 1..k* "
    "where k* = max k with p(k) <= k*alpha/m — pure window algebra "
    "(row_number + count over () + one filtered max), no iteration. "
    "Determinism: group sums are exact DECIMAL; z is one fixed-shape "
    "double expression rounded 6dp; the p-value uses Bowling 2009's "
    "single-constant logistic CDF approximation (identical expression "
    "both engines — BH consumes only the ORDER and a threshold "
    "compare), rounds to 9dp before ranking with a nation tiebreak. "
    "Plan: one corpus aggregate per group + a 1-row global broadcast; "
    "the BH step runs on the m-row summary — segment-count-sized, "
    "never corpus-sized. Ref: no reference analog; public BH step-up "
    "procedure.",
)
def q_stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_nationkey").alias("nation"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    g = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("price").cast("decimal(38,2)").alias("s1"),
        F.sum(F.col("price") * F.col("price")).cast("decimal(38,4)").alias("s2"),
    )
    per = base.groupBy("nation").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("price").cast("decimal(38,2)").alias("s1_g"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    z = F.round(
        (F.col("s1_g").cast("double") / F.col("n_g") - mean)
        / F.sqrt(var / F.col("n_g")),
        6,
    )
    zt = per.crossJoin(F.broadcast(g)).select("nation", "n_g", z.alias("z"))
    p = zt.select(
        "nation",
        "n_g",
        "z",
        F.round(
            2.0 * (1.0 - F.expr(_PHI.format(z="abs(z)"))), 9
        ).alias("p"),
    )
    w = Window.orderBy(F.col("p").asc(), F.col("nation").asc())
    r = p.select(
        "nation",
        "n_g",
        "z",
        "p",
        F.row_number().over(w).cast("bigint").alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("m"),
    )
    k = r.filter(
        F.col("p") <= F.col("rnk") * FDR_ALPHA / F.col("m")
    ).agg(F.coalesce(F.max("rnk"), F.lit(0)).alias("kstar"))
    return (
        r.crossJoin(F.broadcast(k))
        .select(
            "nation",
            "n_g",
            "z",
            F.round(F.col("p"), 6).alias("p"),
            "rnk",
            F.when(F.col("rnk") <= F.col("kstar"), 1).otherwise(0).alias("rejected"),
        )
        .orderBy(F.col("rnk").asc())
    )


# ------------------------------------------------- t-closeness audit
T_CLOSE_THRESHOLD = 0.2


@register(
    "t_closeness_audit",
    oracle=f"""
    WITH j AS (
      SELECT c.c_nationkey AS qi, c.c_mktsegment AS s
      FROM customer c
    ),
    tot AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n FROM j
    ),
    gdist AS MATERIALIZED (
      SELECT s, CAST(count(*) AS BIGINT) AS n_s FROM j GROUP BY s
    ),
    grp AS MATERIALIZED (
      SELECT qi, CAST(count(*) AS BIGINT) AS n_g FROM j GROUP BY qi
    ),
    cell AS (
      SELECT qi, s, CAST(count(*) AS BIGINT) AS n_gs FROM j GROUP BY qi, s
    ),
    diff AS (
      SELECT g.qi,
             abs(CAST(COALESCE(c.n_gs, 0) AS DOUBLE) / g.n_g
                 - CAST(gl.n_s AS DOUBLE) / t.n) AS d
      FROM grp g CROSS JOIN gdist gl CROSS JOIN tot t
      LEFT JOIN cell c ON c.qi = g.qi AND c.s = gl.s
    )
    SELECT d.qi, g.n_g,
           round(sum(d.d) / 2.0, 6) AS t_dist,
           CASE WHEN round(sum(d.d) / 2.0, 6) > {T_CLOSE_THRESHOLD}
                THEN 1 ELSE 0 END AS violates
    FROM diff d JOIN grp g ON g.qi = d.qi
    GROUP BY d.qi, g.n_g
    ORDER BY d.qi ASC
    """,
    doc="t-closeness audit (Li, Li & Venkatasubramanian 2007, ICDE) — "
    "the third rung of the release-gate ladder after "
    "k_anonymity_audit (class size) and l_diversity_audit (distinct "
    "sensitive values): a class can be large AND diverse yet still "
    "leak if its sensitive-value DISTRIBUTION diverges from the "
    "table-wide one (skewness attack). Per QI class (nationkey), "
    "distance between the class's mktsegment distribution and the "
    "global distribution — variational distance sum|p-q|/2, the "
    "equal-ground-metric EMD the paper prescribes for nominal "
    f"attributes — flagged above t={T_CLOSE_THRESHOLD}. Determinism: "
    "all three distributions are exact integer counts; the distance "
    "is one fixed-shape double per (class, value) cell summed over a "
    "sensitive-domain-sized frame and rounded 6dp. Plan: three "
    "partial->final aggregates of the same scan + a (QI x domain) "
    "left join on two broadcast-sized frames — output is QI-domain-"
    "sized regardless of table size. Ref: no reference analog; "
    "public t-closeness definition.",
)
def q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    j = c.select(F.col("c_nationkey").alias("qi"), F.col("c_mktsegment").alias("s"))
    j = j.localCheckpoint(eager=True)  # one scan feeds four aggregates
    tot = j.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    glob = j.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("n_s"))
    grp = j.groupBy("qi").agg(F.count(F.lit(1)).cast("bigint").alias("n_g"))
    cell = j.groupBy("qi", "s").agg(F.count(F.lit(1)).cast("bigint").alias("n_gs"))
    d = (
        grp.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(cell, ["qi", "s"], "left")
        .select(
            "qi",
            "n_g",
            F.abs(
                F.coalesce(F.col("n_gs"), F.lit(0)).cast("double") / F.col("n_g")
                - F.col("n_s").cast("double") / F.col("n")
            ).alias("d"),
        )
    )
    t_dist = F.round(F.sum("d") / 2.0, 6)
    return (
        d.groupBy("qi", "n_g")
        .agg(t_dist.alias("t_dist"))
        .select(
            "qi",
            "n_g",
            "t_dist",
            F.when(F.col("t_dist") > T_CLOSE_THRESHOLD, 1).otherwise(0).alias(
                "violates"
            ),
        )
        .orderBy(F.col("qi").asc())
    )


# ------------------------------------------- mutual-information audit
@register(
    "feature_mi_audit",
    oracle="""
    WITH lab AS MATERIALIZED (
      SELECT o_orderkey,
             CASE WHEN o_totalprice > (SELECT quantile_cont(o_totalprice, 0.5)
                                       FROM orders) THEN 1 ELSE 0 END AS y,
             o_orderstatus, o_orderpriority,
             CAST(month(o_orderdate) AS VARCHAR) AS omonth
      FROM orders
    ),
    x AS (
      SELECT feature, level, y FROM (
        SELECT 'status' AS feature, o_orderstatus AS level, y FROM lab
        UNION ALL
        SELECT 'priority', o_orderpriority, y FROM lab
        UNION ALL
        SELECT 'month', omonth, y FROM lab
      )
    ),
    nxy AS MATERIALIZED (
      SELECT feature, level, y, CAST(count(*) AS BIGINT) AS n_xy
      FROM x GROUP BY feature, level, y
    ),
    nx AS (
      SELECT feature, level, CAST(sum(n_xy) AS BIGINT) AS n_x
      FROM nxy GROUP BY feature, level
    ),
    ny AS (
      SELECT feature, y, CAST(sum(n_xy) AS BIGINT) AS n_y
      FROM nxy GROUP BY feature, y
    ),
    nn AS (
      SELECT feature, CAST(sum(n_xy) AS BIGINT) AS n FROM nxy GROUP BY feature
    ),
    terms AS (
      SELECT c.feature,
             round(CAST(c.n_xy AS DOUBLE) / nn.n
                   * ln(CAST(c.n_xy AS DOUBLE) * nn.n
                        / (CAST(nx.n_x AS DOUBLE) * ny.n_y)), 9) AS term
      FROM nxy c
      JOIN nx ON nx.feature = c.feature AND nx.level = c.level
      JOIN ny ON ny.feature = c.feature AND ny.y = c.y
      JOIN nn ON nn.feature = c.feature
    )
    SELECT t.feature,
           round(CAST(sum(CAST(t.term AS DECIMAL(28,9))) AS DOUBLE), 6)
             AS mi_nats,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM terms t GROUP BY t.feature
    ORDER BY t.feature ASC
    """,
    doc="Per-feature mutual information against the label (I(X;Y) = "
    "sum p_xy ln(p_xy/(p_x p_y))) for three categorical order "
    "features vs the above-median-price label — the feature-screening "
    "/ target-leakage audit step of a training pipeline (a feature "
    "with MI ~ H(Y) predicts the label suspiciously well; one with "
    "~0 bits is dead weight), the per-feature cousin of "
    "text_pmi_collocations' pairwise PMI and chi2_feature_select's "
    "frequentist screen. Determinism: all marginals derive from ONE "
    "(feature, level, y) exact-integer contingency aggregate (never a "
    "second corpus pass); each cell's p*ln term is a fixed-shape "
    "double rounded 9dp and summed as DECIMAL(28,9) — the BM25 "
    "decimal discipline; the label threshold is the exact interpolated "
    "median. Plan: one unpivot (3x row multiplier, map-side) into one "
    "partial->final aggregate keyed (feature, level, y) — cardinality "
    "= sum of feature domains x 2, tiny at any corpus size; marginals "
    "are re-aggregates of that summary. Ref: no reference analog; "
    "public MI definition.",
)
def q_feature_mi_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    med = o.agg(F.percentile("o_totalprice", F.lit(0.5)).alias("med"))
    lab = o.crossJoin(F.broadcast(med)).select(
        F.when(F.col("o_totalprice") > F.col("med"), 1).otherwise(0).alias("y"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("priority"),
        F.month("o_orderdate").cast("string").alias("month"),
    )
    x = lab.select(
        F.expr(
            "stack(3, 'status', status, 'priority', priority, 'month', month)"
        ).alias("feature", "level"),
        "y",
    )
    nxy = (
        x.groupBy("feature", "level", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
        .localCheckpoint(eager=True)  # contingency summary feeds 3 marginals
    )
    nx = nxy.groupBy("feature", "level").agg(
        F.sum("n_xy").cast("bigint").alias("n_x")
    )
    ny = nxy.groupBy("feature", "y").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    nn = nxy.groupBy("feature").agg(F.sum("n_xy").cast("bigint").alias("n"))
    term = F.round(
        F.col("n_xy").cast("double")
        / F.col("n")
        * F.log(
            F.col("n_xy").cast("double")
            * F.col("n")
            / (F.col("n_x").cast("double") * F.col("n_y"))
        ),
        9,
    )
    terms = (
        nxy.join(nx, ["feature", "level"])
        .join(ny, ["feature", "y"])
        .join(nn, "feature")
        .select("feature", term.alias("term"))
    )
    return (
        terms.groupBy("feature")
        .agg(
            F.round(
                F.sum(F.col("term").cast("decimal(28,9)")).cast("double"), 6
            ).alias("mi_nats"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        )
        .orderBy(F.col("feature").asc())
    )


# ----------------------------------------------------- CUPED adjustment
CUPED_ARMS = 2
CUPED_SPLIT = "1998-01-01"


@register(
    "ab_cuped_adjustment",
    oracle=f"""
    WITH per AS (
      SELECT c.c_custkey AS ck,
             {_md5_int8_sql("CAST(c.c_custkey AS VARCHAR)")}
               % {CUPED_ARMS} AS arm,
             CAST(COALESCE(sum(CASE WHEN o.o_orderdate < DATE '{CUPED_SPLIT}'
                  THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END), 0)
                  AS DECIMAL(38,2)) AS x,
             CAST(COALESCE(sum(CASE WHEN o.o_orderdate >= DATE '{CUPED_SPLIT}'
                  THEN CAST(o.o_totalprice AS DECIMAL(18,2)) END), 0)
                  AS DECIMAL(38,2)) AS y
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ),
    mom AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DECIMAL(38,2)) AS sx,
             CAST(sum(y) AS DECIMAL(38,2)) AS sy,
             CAST(sum(x * x) AS DECIMAL(38,4)) AS sxx,
             CAST(sum(x * y) AS DECIMAL(38,4)) AS sxy
      FROM per
    ),
    th AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS mx,
             (CAST(sxy AS DOUBLE) / n
              - CAST(sx AS DOUBLE) / n * (CAST(sy AS DOUBLE) / n))
             / (CAST(sxx AS DOUBLE) / n
                - CAST(sx AS DOUBLE) / n * (CAST(sx AS DOUBLE) / n)) AS theta
      FROM mom
    ),
    adj AS (
      SELECT p.arm, CAST(p.y AS DOUBLE) AS y,
             CAST(p.y AS DOUBLE)
               - th.theta * (CAST(p.x AS DOUBLE) - th.mx) AS y_adj
      FROM per p CROSS JOIN th
    )
    SELECT arm, CAST(count(*) AS BIGINT) AS n,
           round(avg(y), 4) AS mean_y,
           round(avg(y_adj), 4) + 0 AS mean_y_adj,
           round(var_pop(y), 2) AS var_y,
           round(var_pop(y_adj), 2) AS var_y_adj
    FROM adj GROUP BY arm ORDER BY arm ASC
    """,
    doc="CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013, "
    "WSDM): adjust the experiment metric with a pre-period covariate, "
    "Y' = Y - theta*(X - E[X]) with theta = cov(X,Y)/var(X), so the "
    "per-arm readout keeps its mean (in expectation) while shedding "
    "the covariate-explained variance — the standard trick that cuts "
    "experiment runtimes 30-50% and the third experimentation entry "
    "next to ab_srm_check (assignment health) and ab_test_welch_ttest "
    f"(the readout itself). Pre-period = orders before {CUPED_SPLIT}, "
    "metric = revenue after; arms assigned by the portable md5 bucket "
    "(engine-identical). Determinism: per-customer X/Y and all five "
    "pooled moments are exact DECIMAL sums; theta and the adjusted "
    "values are fixed-shape doubles; means/variances round at the "
    "projection (var_pop = exact sum-of-squares form both engines). "
    "Plan: one customer-keyed aggregate (the corpus pass), a 1-row "
    "moment broadcast, then a map-side adjust + one arm-keyed "
    "aggregate — no extra shuffle beyond the group-bys. Ref: no "
    "reference analog; public CUPED formula.",
)
def q_ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    arm = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % CUPED_ARMS
    )
    per = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("o_orderdate") < CUPED_SPLIT, price)),
                F.lit(0),
            )
            .cast("decimal(38,2)")
            .alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("o_orderdate") >= CUPED_SPLIT, price)),
                F.lit(0),
            )
            .cast("decimal(38,2)")
            .alias("y"),
        )
        .select(F.col("c_custkey"), arm.alias("arm"), "x", "y")
        .localCheckpoint(eager=True)  # feeds the moment pass AND the adjust
    )
    mom = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("decimal(38,2)").alias("sx"),
        F.sum("y").cast("decimal(38,2)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,4)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,4)").alias("sxy"),
    )
    mx = F.col("sx").cast("double") / F.col("n")
    my = F.col("sy").cast("double") / F.col("n")
    theta = (F.col("sxy").cast("double") / F.col("n") - mx * my) / (
        F.col("sxx").cast("double") / F.col("n") - mx * mx
    )
    th = mom.select("n", mx.alias("mx"), theta.alias("theta"))
    adj = per.crossJoin(F.broadcast(th)).select(
        "arm",
        F.col("y").cast("double").alias("y"),
        (
            F.col("y").cast("double")
            - F.col("theta") * (F.col("x").cast("double") - F.col("mx"))
        ).alias("y_adj"),
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("y"), 4).alias("mean_y"),
            F.round(F.avg("y_adj"), 4).alias("mean_y_adj"),
            F.round(F.var_pop("y"), 2).alias("var_y"),
            F.round(F.var_pop("y_adj"), 2).alias("var_y_adj"),
        )
        .orderBy(F.col("arm").asc())
    )


# ----------------------------------------------- disparate-impact audit
DI_THRESHOLD = 0.8  # the EEOC four-fifths rule


@register(
    "fairness_disparate_impact",
    oracle=f"""
    WITH spend AS (
      SELECT c.c_custkey, c.c_mktsegment AS grp,
             CAST(COALESCE(sum(CAST(o.o_totalprice AS DECIMAL(18,2))), 0)
                  AS DECIMAL(38,2)) AS total
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    ),
    med AS MATERIALIZED (
      SELECT quantile_cont(CAST(total AS DOUBLE), 0.5) AS m FROM spend
    ),
    rates AS MATERIALIZED (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CASE WHEN CAST(total AS DOUBLE) > med.m
                            THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
               AS pos_rate
      FROM spend CROSS JOIN med GROUP BY grp
    ),
    best AS (SELECT max(pos_rate) AS best FROM rates)
    SELECT r.grp, r.n, r.pos_rate,
           round(r.pos_rate / b.best, 6) AS di_ratio,
           CASE WHEN round(r.pos_rate / b.best, 6) < {DI_THRESHOLD}
                THEN 1 ELSE 0 END AS violates
    FROM rates r CROSS JOIN best b
    ORDER BY r.grp ASC
    """,
    doc="Disparate-impact fairness audit (the EEOC four-fifths rule; "
    "Feldman et al. 2015, KDD): per protected-group positive-outcome "
    "rate (here: above-median customer spend per mktsegment) divided "
    "by the best group's rate, flagged when the ratio drops below "
    f"{DI_THRESHOLD} — the governance gate an ML platform runs on "
    "every scored cohort before shipping a model, completing the "
    "audit family next to the privacy ladder (k-anon/l-div/"
    "t-closeness) and the calibration entries. Determinism: outcomes "
    "are exact DECIMAL spend totals against the exact interpolated "
    "median (one 1-row broadcast); rates round to 6dp before the "
    "ratio, the ratio re-rounds before the threshold compare. Plan: "
    "one customer-keyed aggregate, a 1-row median broadcast into a "
    "map-side flag, one group-keyed aggregate — output is "
    "group-domain-sized at any scale. Ref: no reference analog; "
    "public four-fifths rule.",
)
def q_fairness_disparate_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", F.col("c_mktsegment").alias("grp"))
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.lit(0)
            )
            .cast("decimal(38,2)")
            .alias("total")
        )
        .localCheckpoint(eager=True)  # feeds median AND the rate pass
    )
    med = spend.agg(
        F.percentile(F.col("total").cast("double"), F.lit(0.5)).alias("m")
    )
    rates = (
        spend.crossJoin(F.broadcast(med))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(
                    F.when(F.col("total").cast("double") > F.col("m"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("pos_rate"),
        )
    )
    best = rates.agg(F.max("pos_rate").alias("best"))
    di = F.round(F.col("pos_rate") / F.col("best"), 6)
    return (
        rates.crossJoin(F.broadcast(best))
        .select(
            "grp",
            "n",
            "pos_rate",
            di.alias("di_ratio"),
            F.when(di < DI_THRESHOLD, 1).otherwise(0).alias("violates"),
        )
        .orderBy(F.col("grp").asc())
    )


# ----------------------------------------------------------- PR-AUC
@register(
    "eval_auprc",
    oracle=f"""
    WITH s AS (
      SELECT round({_CALIB_P_SQL}, 6) AS p6,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    g AS (
      SELECT p6, CAST(sum(y) AS BIGINT) AS pos,
             CAST(count(*) - sum(y) AS BIGINT) AS neg
      FROM s GROUP BY p6
    ),
    cum AS (
      SELECT p6, pos, neg,
             CAST(sum(pos) OVER w AS BIGINT) AS tp,
             CAST(sum(neg) OVER w AS BIGINT) AS fp
      FROM g WINDOW w AS (ORDER BY p6 DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS MATERIALIZED (SELECT CAST(sum(pos) AS BIGINT) AS p,
                                CAST(sum(pos) + sum(neg) AS BIGINT) AS n
                         FROM g),
    terms AS (
      SELECT round((CAST(c.pos AS DOUBLE) / tot.p)
                   * (CAST(c.tp AS DOUBLE) / (c.tp + c.fp)), 9) AS term
      FROM cum c CROSS JOIN tot WHERE c.pos > 0
    )
    SELECT tot.n, tot.p AS n_pos,
           round(CAST(tot.p AS DOUBLE) / tot.n, 6) AS prevalence,
           round(CAST((SELECT sum(CAST(term AS DECIMAL(28,9))) FROM terms)
                      AS DOUBLE), 6) AS auprc
    FROM tot
    """,
    doc="Exact area under the precision-recall curve (average precision "
    "with block tie handling: AP = sum over distinct-score groups of "
    "deltaRecall x end-of-group precision — the step-integral "
    "definition scikit-learn's average_precision_score computes) for "
    "the logistic event score against the purchase label. The "
    "IMBALANCE-robust companion to eval_auc_mannwhitney: AUC stays "
    "near 0.5-1.0 under heavy class skew while PR-AUC collapses "
    "toward prevalence, which is why retrieval/anomaly evaluations "
    "report it. Determinism: scores pre-round to 6dp; ties collapse "
    "into ONE group so cumulative TP/FP are exact integers and "
    "order-unambiguous (a per-row ranking over tied doubles would "
    "NOT be); each group term is a fixed-shape double rounded 9dp "
    "summed as DECIMAL(28,9). Plan: one (score) aggregate (the "
    "corpus pass), a distinct-score-sized window cumsum, one 1-row "
    "total broadcast — at 1e9 distinct scores the cumsum becomes a "
    "range-partitioned prefix sum, same algebra. Ref: no reference "
    "analog; public AP definition.",
)
def q_eval_auprc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    s = e.select(
        F.round(F.expr(_CALIB_P_SQL), 6).alias("p6"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("p6").agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("neg"),
    )
    g = g.localCheckpoint(eager=True)  # feeds the cumsum AND the totals
    w = (
        Window.orderBy(F.col("p6").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(
        "p6",
        "pos",
        F.sum("pos").over(w).cast("bigint").alias("tp"),
        F.sum("neg").over(w).cast("bigint").alias("fp"),
    )
    tot = g.agg(
        F.sum("pos").cast("bigint").alias("p"),
        (F.sum("pos") + F.sum("neg")).cast("bigint").alias("n"),
    )
    terms = (
        cum.filter(F.col("pos") > 0)
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                (F.col("pos").cast("double") / F.col("p"))
                * (F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))),
                9,
            ).alias("term")
        )
    )
    ap = terms.agg(
        F.sum(F.col("term").cast("decimal(28,9)")).cast("double").alias("ap")
    )
    return (
        tot.crossJoin(F.broadcast(ap))
        .select(
            "n",
            F.col("p").alias("n_pos"),
            F.round(F.col("p").cast("double") / F.col("n"), 6).alias("prevalence"),
            F.round(F.col("ap"), 6).alias("auprc"),
        )
    )


# ======================================================================
# round-14 additions: classical inference + experiment-analysis surface
# (Kruskal-Wallis, Brown-Forsythe, diff-in-diff, Murphy decomposition,
# runs test, Neyman allocation). Shared discipline: every cross-engine
# sum is either exact-integer (cents/bigint/decimal(38,0)) or the
# round(x,9)::decimal(28,9) fold-order-safe accumulator; doubles appear
# only inside fixed per-row expression trees and the final projection.
# ======================================================================

_CENTS = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"


@register(
    "stats_kruskal_wallis",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority AS grp, {_CENTS} AS v FROM orders
    ),
    gv AS (
      SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY grp, v
    ),
    tv AS (
      SELECT v, CAST(sum(c) AS BIGINT) AS t,
             CAST(sum(sum(c)) OVER (ORDER BY v
               ROWS UNBOUNDED PRECEDING) - sum(c) AS BIGINT) AS below
      FROM gv GROUP BY v
    ),
    rg AS (
      SELECT gv.grp, CAST(sum(gv.c) AS BIGINT) AS n_g,
             CAST(sum(gv.c * (2 * tv.below + tv.t + 1)) AS BIGINT) AS r2
      FROM gv JOIN tv USING (v) GROUP BY gv.grp
    ),
    tot AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k_vals,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
      FROM tv
    ),
    h AS (
      SELECT CAST((SELECT count(*) FROM rg) AS BIGINT) AS k,
             t.n, t.tie_sum,
             12.0 / (t.n * (t.n + 1.0))
               * sum(CAST(r.r2 AS DOUBLE) * r.r2 / (4.0 * r.n_g))
               - 3.0 * (t.n + 1.0) AS h_raw
      FROM rg r CROSS JOIN tot t
      GROUP BY t.n, t.tie_sum
    )
    SELECT r.grp,
           r.n_g,
           round(CAST(r.r2 AS DOUBLE) / (2.0 * r.n_g), 6) AS mean_rank,
           h.k AS n_groups,
           h.n AS n_total,
           round(h.h_raw, 6) AS h_stat,
           round(h.h_raw / (1.0 - CAST(h.tie_sum AS DOUBLE)
                 / (CAST(h.n AS DOUBLE) * h.n * h.n - h.n)), 6) AS h_tie_adj
    FROM rg r CROSS JOIN h
    ORDER BY r.grp
    """,
    doc="Kruskal-Wallis one-way rank test (Kruskal & Wallis 1952, JASA "
    "47): does order value differ across the 5 priority classes "
    "without assuming normality — the k-group extension of the "
    "Mann-Whitney machinery eval_auc_mannwhitney certifies. Ranks "
    "are never materialized per row: average ranks come from the "
    "DISTINCT-value table (t, cum-below) as INTEGER doubled ranks "
    "r2 = 2*below + t + 1, so each group's rank sum is an exact "
    "bigint and both engines only go floating in the final H "
    "expression; the tie correction sum(t^3 - t) is likewise exact. "
    "Plan: two hash aggregates (group-value, value) + one bounded "
    "cumulative window over distinct values + a 5-row join — at "
    "100 TB the value table is the only state, and a fixed-width "
    "pre-bin caps it exactly as the sorted-AUC note describes. "
    "Ref: no reference analog; standard KW definition.",
)
def q_stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("v"),
    )
    gv = x.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    gv = gv.localCheckpoint(eager=False)  # feeds tv and rg
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tv = (
        gv.groupBy("v")
        .agg(F.sum("c").cast("bigint").alias("t"))
        .withColumn("below", (F.sum("t").over(w) - F.col("t")).cast("bigint"))
    )
    rg = (
        gv.join(tv, "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * (2 * F.col("below") + F.col("t") + 1))
            .cast("bigint")
            .alias("r2"),
        )
        .localCheckpoint(eager=False)  # feeds h and the output join
    )
    tot = tv.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_sum"),
    )
    h = (
        rg.crossJoin(F.broadcast(tot))
        .groupBy("n", "tie_sum")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            (
                F.lit(12.0)
                / (F.col("n") * (F.col("n") + F.lit(1.0)))
                * F.sum(
                    F.col("r2").cast("double")
                    * F.col("r2")
                    / (F.lit(4.0) * F.col("n_g"))
                )
                - F.lit(3.0) * (F.col("n") + F.lit(1.0))
            ).alias("h_raw"),
        )
    )
    return (
        rg.crossJoin(F.broadcast(h))
        .select(
            "grp",
            "n_g",
            F.round(F.col("r2").cast("double") / (2.0 * F.col("n_g")), 6).alias(
                "mean_rank"
            ),
            F.col("k").alias("n_groups"),
            F.col("n").alias("n_total"),
            F.round("h_raw", 6).alias("h_stat"),
            F.round(
                F.col("h_raw")
                / (
                    F.lit(1.0)
                    - F.col("tie_sum").cast("double")
                    / (
                        F.col("n").cast("double") * F.col("n") * F.col("n")
                        - F.col("n")
                    )
                ),
                6,
            ).alias("h_tie_adj"),
        )
        .orderBy("grp")
    )


@register(
    "stats_brown_forsythe",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority AS grp, {_CENTS} AS v FROM orders
    ),
    med AS (
      SELECT grp, CAST(2 * median(v) AS BIGINT) AS med2 FROM x GROUP BY grp
    ),
    z AS (
      SELECT x.grp, abs(2 * x.v - m.med2) AS z2
      FROM x JOIN med m USING (grp)
    ),
    g AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(z2) AS BIGINT) AS s1,
             CAST(sum(CAST(z2 AS HUGEINT) * z2) AS DOUBLE) AS s2
      FROM z GROUP BY grp
    ),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(s1) AS BIGINT) AS s1_all
      FROM g
    ),
    parts AS (
      SELECT
        sum(CAST(round(CAST(g.s1 AS DOUBLE) * g.s1 / g.n_g, 9)
              AS DECIMAL(38,9))) AS ssb_part,
        sum(CAST(round(g.s2 - CAST(g.s1 AS DOUBLE) * g.s1 / g.n_g, 9)
              AS DECIMAL(38,9))) AS ssw4
      FROM g
    )
    SELECT g.grp, g.n_g,
           round(CAST(g.s1 AS DOUBLE) / (2.0 * g.n_g), 6) AS mean_absdev,
           t.k AS n_groups, t.n AS n_total,
           round(((CAST(p.ssb_part AS DOUBLE)
                   - CAST(t.s1_all AS DOUBLE) * t.s1_all / t.n)
                  / (t.k - 1.0))
                 / (CAST(p.ssw4 AS DOUBLE) / (t.n - t.k)), 6) AS f_stat
    FROM g CROSS JOIN tot t CROSS JOIN parts p
    ORDER BY g.grp
    """,
    doc="Brown-Forsythe homogeneity-of-variance test (Brown & Forsythe "
    "1974, JASA 69) — Levene's test with the MEDIAN center, the "
    "robust pre-check in front of any equal-variance assumption "
    "(ab_test_welch_ttest's companion: Welch dodges the assumption, "
    "BF measures it). Deviations are kept integer: z2 = |2v - 2*med| "
    "is an exact bigint because a two-middle median doubles to an "
    "integer, so each group's sum(z2) is exact and sum(z2^2) is an "
    "exact 128-bit/decimal accumulation; the one-way F over the "
    "deviations is then a fixed 5-term double expression whose "
    "cross-group sums ride the round(.,9)::decimal fold-order-safe "
    "accumulator. Plan: per-group exact median (bounded groups) + "
    "one partial->final aggregate over the deviations; nothing "
    "corpus-sized survives the aggregate. Ref: no reference analog; "
    "standard BF definition.",
)
def q_stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("v"),
    )
    med = x.groupBy("grp").agg(
        (F.percentile("v", F.lit(0.5)) * 2).cast("bigint").alias("med2")
    )
    z = x.join(F.broadcast(med), "grp").select(
        "grp", F.abs(2 * F.col("v") - F.col("med2")).alias("z2")
    )
    g = (
        z.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum("z2").cast("bigint").alias("s1"),
            F.sum(F.col("z2").cast("decimal(38,0)") * F.col("z2"))
            .cast("double")
            .alias("s2"),
        )
        .localCheckpoint(eager=False)  # feeds tot, parts, output
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("s1").cast("bigint").alias("s1_all"),
    )
    parts = g.agg(
        F.sum(
            F.round(F.col("s1").cast("double") * F.col("s1") / F.col("n_g"), 9).cast(
                "decimal(38,9)"
            )
        ).alias("ssb_part"),
        F.sum(
            F.round(
                F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_g"),
                9,
            ).cast("decimal(38,9)")
        ).alias("ssw4"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(parts))
        .select(
            "grp",
            "n_g",
            F.round(F.col("s1").cast("double") / (2.0 * F.col("n_g")), 6).alias(
                "mean_absdev"
            ),
            F.col("k").alias("n_groups"),
            F.col("n").alias("n_total"),
            F.round(
                (
                    (
                        F.col("ssb_part").cast("double")
                        - F.col("s1_all").cast("double")
                        * F.col("s1_all")
                        / F.col("n")
                    )
                    / (F.col("k") - F.lit(1.0))
                )
                / (F.col("ssw4").cast("double") / (F.col("n") - F.col("k"))),
                6,
            ).alias("f_stat"),
        )
        .orderBy("grp")
    )


_DID_SPLIT = "1998-07-01"


@register(
    "causal_diff_in_diff",
    oracle=f"""
    WITH x AS (
      SELECT CAST(o_custkey % 2 AS INT) AS treat,
             CASE WHEN o_orderdate >= TIMESTAMP '{_DID_SPLIT}'
                  THEN 1 ELSE 0 END AS post,
             {_CENTS} AS v
      FROM orders
    ),
    cells AS (
      SELECT treat, post, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s1,
             CAST(sum(CAST(v AS HUGEINT) * v) AS DOUBLE) AS s2
      FROM x GROUP BY treat, post
    ),
    m AS (
      SELECT treat, post, n,
             CAST(s1 AS DOUBLE) / n / 100.0 AS mean_usd,
             (s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1) / 10000.0
               AS var_usd
      FROM cells
    ),
    wide AS (
      SELECT
        max(CASE WHEN treat = 0 AND post = 0 THEN mean_usd END) AS m_c_pre,
        max(CASE WHEN treat = 0 AND post = 1 THEN mean_usd END) AS m_c_post,
        max(CASE WHEN treat = 1 AND post = 0 THEN mean_usd END) AS m_t_pre,
        max(CASE WHEN treat = 1 AND post = 1 THEN mean_usd END) AS m_t_post,
        sum(CAST(round(var_usd / n, 9) AS DECIMAL(38,9))) AS se2,
        CAST(sum(n) AS BIGINT) AS n_total
      FROM m
    )
    SELECT n_total,
           round(m_c_pre, 6) AS m_c_pre, round(m_c_post, 6) AS m_c_post,
           round(m_t_pre, 6) AS m_t_pre, round(m_t_post, 6) AS m_t_post,
           round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) + 0 AS did_usd,
           round(sqrt(CAST(se2 AS DOUBLE)), 6) AS se_usd,
           round(((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
                 / sqrt(CAST(se2 AS DOUBLE)), 6) + 0 AS t_stat
    FROM wide
    """,
    doc="Difference-in-differences estimator (Card & Krueger 1994 AER "
    "84 shape): the 2x2 treat/post design over order value with a "
    "deterministic treatment assignment (custkey parity) and a fixed "
    "policy date — the causal-inference counterpart to "
    "ab_cuped_adjustment (CUPED reduces variance within a "
    "randomized experiment; DiD identifies an effect when only "
    "observational pre/post panels exist). All four cell moments are "
    "exact-integer (cents sums, 128-bit square sums); the estimator, "
    "its large-sample SE = sqrt(sum var_c/n_c), and the t statistic "
    "are fixed double expressions over those exact cells, with the "
    "4-term SE sum on the decimal accumulator. Plan: ONE partial->"
    "final hash aggregate over a 4-cell key; nothing else shuffles "
    "at any scale. Ref: no reference analog; standard DiD.",
)
def q_causal_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        (F.col("o_custkey") % 2).cast("int").alias("treat"),
        F.when(F.col("o_orderdate") >= F.lit(_DID_SPLIT).cast("timestamp"), 1)
        .otherwise(0)
        .alias("post"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("v"),
    )
    cells = x.groupBy("treat", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("double")
        .alias("s2"),
    )
    m = cells.select(
        "treat",
        "post",
        "n",
        (F.col("s1").cast("double") / F.col("n") / 100.0).alias("mean_usd"),
        (
            (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
            / 10000.0
        ).alias("var_usd"),
    )
    wide = m.agg(
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 0), F.col("mean_usd"))).alias("m_c_pre"),
        F.max(F.when((F.col("treat") == 0) & (F.col("post") == 1), F.col("mean_usd"))).alias("m_c_post"),
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 0), F.col("mean_usd"))).alias("m_t_pre"),
        F.max(F.when((F.col("treat") == 1) & (F.col("post") == 1), F.col("mean_usd"))).alias("m_t_post"),
        F.sum(
            F.round(F.col("var_usd") / F.col("n"), 9).cast("decimal(38,9)")
        ).alias("se2"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    did = (F.col("m_t_post") - F.col("m_t_pre")) - (
        F.col("m_c_post") - F.col("m_c_pre")
    )
    se = F.sqrt(F.col("se2").cast("double"))
    return wide.select(
        "n_total",
        F.round("m_c_pre", 6).alias("m_c_pre"),
        F.round("m_c_post", 6).alias("m_c_post"),
        F.round("m_t_pre", 6).alias("m_t_pre"),
        F.round("m_t_post", 6).alias("m_t_post"),
        F.round(did, 6).alias("did_usd"),
        F.round(se, 6).alias("se_usd"),
        F.round(did / se, 6).alias("t_stat"),
    )


@register(
    "eval_brier_decomposition",
    oracle="""
    WITH base AS (
      SELECT value AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ),
    sv AS (
      SELECT score, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(y) AS BIGINT) AS sy
      FROM base GROUP BY score
    ),
    pv AS (
      SELECT score, cnt, sy,
             round(CAST(sum(cnt) OVER (ORDER BY score
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   / (SELECT sum(cnt) FROM sv), 9) AS p
      FROM sv
    ),
    bins AS (
      SELECT least(9, CAST(floor(p * 10) AS INT)) AS bin,
             CAST(sum(cnt) AS BIGINT) AS n_k,
             CAST(sum(sy) AS BIGINT) AS ny_k,
             sum(cnt * CAST(p AS DECIMAL(28,9))) AS sp_k,
             sum(CAST(round(sy * (p - 1.0) * (p - 1.0)
                            + (cnt - sy) * p * p, 9)
                 AS DECIMAL(38,9))) AS sqerr_k
      FROM pv GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_k) AS BIGINT) AS n, CAST(sum(ny_k) AS BIGINT) AS p_all,
             CAST(sum(sqerr_k) AS DOUBLE) AS sqerr
      FROM bins
    ),
    dec AS (
      SELECT t.n, t.p_all, t.sqerr,
             sum(CAST(round(b.n_k * pow(CAST(b.sp_k AS DOUBLE) / b.n_k
                   - CAST(b.ny_k AS DOUBLE) / b.n_k, 2), 9)
                 AS DECIMAL(38,9))) AS rel_num,
             sum(CAST(round(b.n_k * pow(CAST(b.ny_k AS DOUBLE) / b.n_k
                   - CAST(t.p_all AS DOUBLE) / t.n, 2), 9)
                 AS DECIMAL(38,9))) AS res_num
      FROM bins b CROSS JOIN tot t
      GROUP BY t.n, t.p_all, t.sqerr
    )
    SELECT n AS n_rows, round(CAST(p_all AS DOUBLE) / n, 6) AS base_rate,
           round(sqerr / n, 6) AS brier,
           round(CAST(rel_num AS DOUBLE) / n, 6) AS reliability,
           round(CAST(res_num AS DOUBLE) / n, 6) AS resolution,
           round(CAST(p_all AS DOUBLE) / n * (1.0 - CAST(p_all AS DOUBLE) / n), 6)
             AS uncertainty,
           round(sqerr / n - (CAST(rel_num AS DOUBLE) / n
                 - CAST(res_num AS DOUBLE) / n
                 + CAST(p_all AS DOUBLE) / n
                   * (1.0 - CAST(p_all AS DOUBLE) / n)), 6) AS within_bin_gap
    FROM dec
    """,
    doc="Murphy decomposition of the Brier score (Murphy 1973, J. Appl. "
    "Meteorology 12): brier = reliability - resolution + uncertainty "
    "over decile bins of the forecast, where the forecast is the "
    "rank-calibrated score p = cume-fraction(value <= v) — the "
    "decomposition eval_calibration_bins stops short of (it emits "
    "the bins; this emits the three attributed components plus the "
    "within-bin variance gap that exact decomposition leaves when "
    "forecasts vary inside a bin). Cross-engine discipline: p is "
    "computed on the DISTINCT-score table (bounded cumulative "
    "window, the AUC pattern) and rounded to 9dp BEFORE any use; "
    "every corpus-sized sum is integer or decimal(28/38,9); the "
    "final components are fixed double expressions. Plan: one "
    "distinct-score aggregate + bounded window + a 10-row bin "
    "aggregate. Ref: no reference analog; standard Murphy 1973.",
)
def q_eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = e.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    sv = base.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    sv = sv.localCheckpoint(eager=False)  # feeds the window and the total
    n1 = sv.agg(F.sum("cnt").alias("nall"))
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    pv = (
        sv.crossJoin(F.broadcast(n1))
        .withColumn(
            "p",
            F.round(F.sum("cnt").over(w).cast("double") / F.col("nall"), 9),
        )
        .drop("nall")
    )
    bins = pv.groupBy(
        F.least(F.lit(9), F.floor(F.col("p") * 10).cast("int")).alias("bin")
    ).agg(
        F.sum("cnt").cast("bigint").alias("n_k"),
        F.sum("sy").cast("bigint").alias("ny_k"),
        F.sum(F.col("cnt") * F.col("p").cast("decimal(28,9)")).alias("sp_k"),
        F.sum(
            F.round(
                F.col("sy") * (F.col("p") - 1.0) * (F.col("p") - 1.0)
                + (F.col("cnt") - F.col("sy")) * F.col("p") * F.col("p"),
                9,
            ).cast("decimal(38,9)")
        ).alias("sqerr_k"),
    )
    bins = bins.localCheckpoint(eager=False)  # feeds tot and dec
    tot = bins.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("ny_k").cast("bigint").alias("p_all"),
        F.sum("sqerr_k").cast("double").alias("sqerr"),
    )
    dec = (
        bins.crossJoin(F.broadcast(tot))
        .groupBy("n", "p_all", "sqerr")
        .agg(
            F.sum(
                F.round(
                    F.col("n_k")
                    * F.pow(
                        F.col("sp_k").cast("double") / F.col("n_k")
                        - F.col("ny_k").cast("double") / F.col("n_k"),
                        2,
                    ),
                    9,
                ).cast("decimal(38,9)")
            ).alias("rel_num"),
            F.sum(
                F.round(
                    F.col("n_k")
                    * F.pow(
                        F.col("ny_k").cast("double") / F.col("n_k")
                        - F.col("p_all").cast("double") / F.col("n"),
                        2,
                    ),
                    9,
                ).cast("decimal(38,9)")
            ).alias("res_num"),
        )
    )
    base_rate = F.col("p_all").cast("double") / F.col("n")
    unc = base_rate * (F.lit(1.0) - base_rate)
    return dec.select(
        F.col("n").alias("n_rows"),
        F.round(base_rate, 6).alias("base_rate"),
        F.round(F.col("sqerr") / F.col("n"), 6).alias("brier"),
        F.round(F.col("rel_num").cast("double") / F.col("n"), 6).alias("reliability"),
        F.round(F.col("res_num").cast("double") / F.col("n"), 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(
            F.col("sqerr") / F.col("n")
            - (
                F.col("rel_num").cast("double") / F.col("n")
                - F.col("res_num").cast("double") / F.col("n")
                + unc
            ),
            6,
        ).alias("within_bin_gap"),
    )


@register(
    "stats_runs_test",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             CAST(sum({_CENTS}) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    med AS (SELECT CAST(2 * median(rev) AS BIGINT) AS med2 FROM daily),
    s AS (
      SELECT d, CASE WHEN 2 * rev > med2 THEN 1 ELSE 0 END AS sgn
      FROM daily CROSS JOIN med
      WHERE 2 * rev <> med2
    ),
    lagd AS (
      SELECT sgn, lag(sgn) OVER (ORDER BY d) AS prev FROM s
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sgn) AS BIGINT) AS n1,
             CAST(count(*) - sum(sgn) AS BIGINT) AS n2,
             CAST(1 + sum(CASE WHEN prev IS NOT NULL AND sgn <> prev
                               THEN 1 ELSE 0 END) AS BIGINT) AS r
      FROM lagd
    )
    SELECT n AS n_days, n1 AS n_above, n2 AS n_below, r AS n_runs,
           round(1.0 + 2.0 * n1 * n2 / n, 6) AS expected_runs,
           round((r - (1.0 + 2.0 * n1 * n2 / n))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1.0))), 6) AS z_score
    FROM agg
    """,
    doc="Wald-Wolfowitz runs test (Wald & Wolfowitz 1940, Ann. Math. "
    "Stat. 11) on daily revenue's above/below-median sign sequence — "
    "the randomness check that complements the DIRECTIONAL trend "
    "tests already certified (trend_mann_kendall detects monotone "
    "drift, cusum_revenue_shift locates a level shift; runs detects "
    "ANY serial dependence, including oscillation, that both miss). "
    "Exact-median ties are excluded on both engines via the doubled "
    "integer comparison 2*rev <> 2*median (a two-middle median "
    "doubles to an exact bigint), the run count is one lag window "
    "over the ~bounded daily series, and E[R] / Var[R] / z are fixed "
    "double expressions over exact integer (n, n1, n2, R). Plan: the "
    "day rollup is the only corpus-sized aggregate; the sign "
    "sequence is calendar-bounded (one row per day), so the "
    "unpartitioned lag window is a few-KB single task at any corpus "
    "size. Ref: no reference analog; standard WW runs test.",
)
def q_stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    daily = daily.localCheckpoint(eager=False)  # feeds median + sequence
    med = daily.agg((F.percentile("rev", F.lit(0.5)) * 2).cast("bigint").alias("med2"))
    s = (
        daily.crossJoin(F.broadcast(med))
        .filter(2 * F.col("rev") != F.col("med2"))
        .select(
            "d",
            F.when(2 * F.col("rev") > F.col("med2"), 1).otherwise(0).alias("sgn"),
        )
    )
    lagd = s.select("sgn", F.lag("sgn").over(Window.orderBy("d")).alias("prev"))
    agg = lagd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("sgn").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("sgn")).cast("bigint").alias("n2"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("sgn") != F.col("prev")), 1
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("r"),
    )
    er = F.lit(1.0) + 2.0 * F.col("n1") * F.col("n2") / F.col("n")
    varr = (
        F.lit(2.0)
        * F.col("n1")
        * F.col("n2")
        * (2.0 * F.col("n1") * F.col("n2") - F.col("n"))
        / (F.col("n").cast("double") * F.col("n") * (F.col("n") - F.lit(1.0)))
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.round(er, 6).alias("expected_runs"),
        F.round((F.col("r") - er) / F.sqrt(varr), 6).alias("z_score"),
    )


NEYMAN_BUDGET = 1000  # total sample size to allocate across strata


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_h,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS DOUBLE) AS s2
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_h,
             round(sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n_h) / (n_h - 1)), 9)
               AS sd_h
      FROM g
    ),
    tot AS (
      SELECT CAST(sum(CAST(round(n_h * sd_h, 9) AS DECIMAL(38,9)))
               AS DOUBLE) AS w_all
      FROM w
    ),
    alloc AS (
      SELECT w.source, w.n_h, w.sd_h,
             {NEYMAN_BUDGET} * w.n_h * w.sd_h / t.w_all AS a_real
      FROM w CROSS JOIN tot t
    ),
    flo AS (
      SELECT source, n_h, sd_h, a_real,
             CAST(floor(a_real) AS BIGINT) AS base,
             round(a_real - floor(a_real), 9) AS rem
      FROM alloc
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC) AS rk,
             {NEYMAN_BUDGET} - sum(base) OVER () AS leftover
      FROM flo
    )
    SELECT source, n_h AS n_rows, round(sd_h, 6) AS sd,
           round(a_real / {NEYMAN_BUDGET}, 6) AS alloc_frac,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
             AS BIGINT) AS n_alloc
    FROM ranked ORDER BY source
    """,
    doc="Neyman-optimal stratified sample allocation (Neyman 1934, JRSS "
    f"97): split a fixed budget of {NEYMAN_BUDGET} draws across the "
    "source strata proportional to N_h * sigma_h — the "
    "variance-minimizing design for estimating mean document length, "
    "and the principled upgrade to sample_stratified_quota's equal "
    "quotas (strata with high internal variance earn more of the "
    "budget). Integer seats are settled by largest-remainder "
    "(Hamilton) apportionment with a deterministic source tiebreak, "
    "so sum(n_alloc) == budget exactly. Cross-engine: per-stratum "
    "moments are exact (bigint sums, 128-bit/decimal square sums), "
    "sd rounds to 9dp before any reuse, the stratum-count-sized "
    "weight total rides the decimal accumulator, and the remainder "
    "ranking sorts 9dp-rounded values. Plan: ONE partial->final "
    "aggregate over the corpus + window work on the ~#strata rows; "
    "the allocation table is what a downstream per-stratum sampler "
    "(sample_stratified_quota's TABLESAMPLE shape) consumes. Ref: "
    "no reference analog; standard survey-sampling design.",
)
def q_sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("n_chars").cast("bigint").alias("s1"),
        F.sum(F.col("n_chars").cast("decimal(38,0)") * F.col("n_chars"))
        .cast("double")
        .alias("s2"),
    )
    w = g.select(
        "source",
        "n_h",
        F.round(
            F.sqrt(
                (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_h"))
                / (F.col("n_h") - 1)
            ),
            9,
        ).alias("sd_h"),
    )
    w = w.localCheckpoint(eager=False)  # feeds the total and the allocation
    tot = w.agg(
        F.sum(F.round(F.col("n_h") * F.col("sd_h"), 9).cast("decimal(38,9)"))
        .cast("double")
        .alias("w_all")
    )
    alloc = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_h",
        "sd_h",
        (F.lit(NEYMAN_BUDGET) * F.col("n_h") * F.col("sd_h") / F.col("w_all")).alias(
            "a_real"
        ),
    )
    flo = alloc.select(
        "source",
        "n_h",
        "sd_h",
        "a_real",
        F.floor("a_real").cast("bigint").alias("base"),
        F.round(F.col("a_real") - F.floor("a_real"), 9).alias("rem"),
    )
    wk = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    wall = Window.partitionBy()
    ranked = flo.select(
        "*",
        F.row_number().over(wk).alias("rk"),
        (F.lit(NEYMAN_BUDGET) - F.sum("base").over(wall)).alias("leftover"),
    )
    return ranked.select(
        "source",
        F.col("n_h").alias("n_rows"),
        F.round("sd_h", 6).alias("sd"),
        F.round(F.col("a_real") / NEYMAN_BUDGET, 6).alias("alloc_frac"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_alloc"),
    ).orderBy("source")


RAND_TEST_B = 100  # pseudo-random reassignments under the sharp null


def _rand_test_partials(n_b: int, n_words: int):
    """mapInPandas kernel factory for ab_randomization_test: each Arrow
    batch reduces to ONE (b, s, n) int64 partial frame — row b < n_b is
    replicate b's (treated cents sum, treated count) on bit b of the
    per-row digest words w0..w{n_words-1}; row b == n_b is (total sum,
    total count). Exact int64 partials that sum associatively across
    partitions (guide §4.2: vectorized numpy over Arrow batches instead
    of a 2*n_b+2-buffer JVM aggregate, which exceeds the whole-stage
    codegen field limit and falls back to interpreted evaluation)."""
    import numpy as np
    import pandas as pd

    def rep_partials(batches):
        # rows 0..n_b-1: replicate cells; row n_b: grand totals; row
        # n_b+1: the OBSERVED g==1 cell (real cohort bit), so the
        # observed statistic rides the same single corpus pass
        s = np.zeros(n_b + 2, dtype=np.int64)
        n = np.zeros(n_b + 2, dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            # ADVICE r15: to_numpy(np.int64) raises an opaque error on
            # nulls; the orders columns feeding this kernel are non-null
            # by contract, so fail fast with a message naming the cause
            # instead of a bare cast error if that contract ever loosens
            try:
                v = pdf["v"].to_numpy(np.int64)
            except (TypeError, ValueError) as exc:
                raise ValueError(
                    "ab_randomization_test kernel requires non-null "
                    "int64 inputs (v); got a batch that fails the "
                    f"int64 conversion: {exc}"
                ) from exc
            for i in range(n_words):
                w = pdf[f"w{i}"].to_numpy(np.int64)
                hi = min(32, n_b - 32 * i)
                shifts = (31 - np.arange(hi, dtype=np.int64))[None, :]
                bits = (w[:, None] >> shifts) & 1  # rows x hi, 0/1 int64
                s[32 * i : 32 * i + hi] += bits.T @ v
                n[32 * i : 32 * i + hi] += bits.sum(axis=0)
            s[n_b] += int(v.sum())
            n[n_b] += len(v)
            g = pdf["g"].to_numpy(np.int64)
            s[n_b + 1] += int(v @ g)
            n[n_b + 1] += int(g.sum())
        if not seen:
            return
        yield pd.DataFrame(
            {"b": np.arange(n_b + 2, dtype=np.int32), "s": s, "n": n}
        )

    return rep_partials


@register(
    "ab_randomization_test",
    oracle=f"""
    WITH x AS (
      SELECT o_orderkey AS k, CAST(o_custkey % 2 AS INT) AS g,
             {_CENTS} AS v
      FROM orders
    ),
    obs AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             abs(CAST(sum(CASE WHEN g = 1 THEN v END) AS DOUBLE)
                   / sum(CASE WHEN g = 1 THEN 1 END)
                 - CAST(sum(CASE WHEN g = 0 THEN v END) AS DOUBLE)
                   / sum(CASE WHEN g = 0 THEN 1 END)) AS t_obs
      FROM x
    ),
    hashed AS (SELECT k, v, md5(CAST(k AS VARCHAR)) AS h FROM x),
    perm AS (
      -- one md5 per row; replicate b reads BIT b of the 128-bit digest
      SELECT b.b,
             CAST((instr('0123456789abcdef', h[1 + b // 4]) - 1)
                  // CAST(pow(2, 3 - b % 4) AS INT) % 2 AS INT) AS g,
             hashed.v
      FROM hashed CROSS JOIN (SELECT unnest(range(0, {RAND_TEST_B})) AS b) b
    ),
    cells AS (
      SELECT b, g, CAST(count(*) AS BIGINT) AS n_c,
             CAST(sum(v) AS BIGINT) AS s_c
      FROM perm GROUP BY b, g
    ),
    stats AS (
      SELECT b,
             abs(CAST(max(CASE WHEN g = 1 THEN s_c END) AS DOUBLE)
                   / max(CASE WHEN g = 1 THEN n_c END)
                 - CAST(max(CASE WHEN g = 0 THEN s_c END) AS DOUBLE)
                   / max(CASE WHEN g = 0 THEN n_c END)) AS t_b
      FROM cells GROUP BY b
    )
    SELECT o.n, round(o.t_obs / 100.0, 6) AS t_obs_usd,
           CAST({RAND_TEST_B} AS BIGINT) AS n_perm,
           CAST(count(CASE WHEN s.t_b >= o.t_obs THEN 1 END) AS BIGINT)
             AS n_ge,
           round((1.0 + count(CASE WHEN s.t_b >= o.t_obs THEN 1 END))
                 / (1.0 + {RAND_TEST_B}), 6) AS p_value
    FROM stats s CROSS JOIN obs o
    GROUP BY o.n, o.t_obs
    """,
    doc="Fisher-style randomization test (Fisher 1935, The Design of "
    f"Experiments; Monte-Carlo form) for the cohort mean-value gap: "
    f"{RAND_TEST_B} SEEDED pseudo-random reassignments of the "
    "treatment label under the sharp null (bit b of md5(orderkey), "
    "one digest per row feeding all replicates — the engine's "
    "portable seeded-RNG discipline, byte-identical in DuckDB), each scored by |mean1 - mean0|, with the add-one "
    "Monte-Carlo p-value. The assumption-free companion to "
    "ab_test_welch_ttest (no normality, no variance model) and the "
    "inferential complement of ab_srm_check. All per-replicate "
    "moments are exact integers (cents sums per (b, group) cell): "
    "each Arrow batch reduces to one (replicate, sum, count) int64 "
    "partial frame in vectorized numpy (a bits x values matrix "
    "product), and one tiny partial->final groupBy folds partitions — "
    "ONE corpus pass regardless of replicate count, and the null "
    "statistics are fixed double expressions over those exact "
    "cells. At 100 TB replicate count, not data volume, is the "
    "knob — replicates widen the per-batch matrix only. Ref: no "
    "reference analog; standard randomization inference.",
)
def q_ab_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_custkey") % 2).cast("int").alias("g"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("v"),
    )
    # ONE corpus pass total (one md5 per ROW): replicate b's treated
    # sum/count are exact int64 partials over bit b of the digest. The
    # r14 form kept all 2*RAND_TEST_B+2 partials as a single JVM-wide
    # aggregate, but 202 aggregate buffers exceed
    # spark.sql.codegen.maxFields (100) so the whole stage fell out of
    # WholeStageCodegen and every row paid interpreted expression
    # evaluation (~2x the stage, measured r15). Vectorized rewrite:
    # each Arrow batch reduces to ONE (b, s, n) long-format partial
    # frame in numpy (bits matrix-vector product — guide §4.2), and a
    # (RAND_TEST_B+2)-row groupBy folds partials across partitions.
    # The observed g==1 cell rides the same kernel as row n_b+1 (an
    # extra int64 lane is free there — the r14 obs-fold rejection was
    # about widening the JVM aggregate past its codegen cliff), so the
    # r14 second orders scan for the observed statistic is gone. Same
    # exact integers, no row multiplication (the exploded form was
    # 0.95/decade and 40 s at sf1). digest parsed once per row into
    # four 32-bit words; each replicate's assignment bit is a
    # shift-and-mask (same values as the oracle's nibble arithmetic)
    n_words = (RAND_TEST_B + 31) // 32
    hashed = x.selectExpr(
        "v",
        "g",
        *[
            f"CAST(conv(substring(md5(CAST(k AS STRING)), {1 + 8 * i}, 8), "
            f"16, 10) AS BIGINT) AS w{i}"
            for i in range(n_words)
        ],
    )
    n_b = RAND_TEST_B
    red = (
        hashed.mapInPandas(
            _rand_test_partials(n_b, n_words), schema="b int, s long, n long"
        )
        .groupBy("b")
        .agg(
            F.sum("s").cast("bigint").alias("s"),
            F.sum("n").cast("bigint").alias("n"),
        )
        .localCheckpoint(eager=False)  # feeds totals, obs AND replicates
    )
    tot = red.filter(F.col("b") == n_b).select(
        F.col("s").alias("s_all"), F.col("n").alias("n_all")
    )
    # observed statistic from the same reduced frame: g==1 cell direct,
    # g==0 cell by exact bigint subtraction from the totals row
    s_all_ = F.max(F.when(F.col("b") == n_b, F.col("s")))
    n_all_ = F.max(F.when(F.col("b") == n_b, F.col("n")))
    s1_ = F.max(F.when(F.col("b") == n_b + 1, F.col("s")))
    n1_ = F.max(F.when(F.col("b") == n_b + 1, F.col("n")))
    obs = red.filter(F.col("b") >= n_b).agg(
        n_all_.cast("bigint").alias("n"),
        F.abs(
            s1_.cast("double") / n1_
            - (s_all_ - s1_).cast("double") / (n_all_ - n1_)
        ).alias("t_obs"),
    )
    reps = red.filter(F.col("b") < n_b).crossJoin(F.broadcast(tot))
    stats = reps.select(
        F.abs(
            F.col("s").cast("double") / F.col("n")
            - (F.col("s_all") - F.col("s")).cast("double")
            / (F.col("n_all") - F.col("n"))
        ).alias("t_b")
    )
    return (
        stats.crossJoin(F.broadcast(obs))
        .groupBy("n", "t_obs")
        .agg(
            F.count(F.when(F.col("t_b") >= F.col("t_obs"), 1))
            .cast("bigint")
            .alias("n_ge")
        )
        .select(
            "n",
            F.round(F.col("t_obs") / 100.0, 6).alias("t_obs_usd"),
            F.lit(RAND_TEST_B).cast("bigint").alias("n_perm"),
            "n_ge",
            F.round(
                (F.lit(1.0) + F.col("n_ge")) / (1.0 + RAND_TEST_B), 6
            ).alias("p_value"),
        )
    )


@register(
    "graph_degree_assortativity",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    sh AS (
      -- exact twin of exploded_shingles: word-3-shingles, tiny docs
      -- (< 3 tokens) contribute their whole text as one pseudo-shingle
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(toks) >= 3
                    THEN list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                    ELSE [trim(text)] END) AS s
      FROM t
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    ),
    deg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      ) GROUP BY doc_id
    ),
    ends AS (
      SELECT da.d AS x, db.d AS y
      FROM pairs p
      JOIN deg da ON da.doc_id = p.doc_a
      JOIN deg db ON db.doc_id = p.doc_b
    ),
    stacked AS (
      SELECT x, y FROM ends UNION ALL SELECT y, x FROM ends
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS m2,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
      FROM stacked
    )
    SELECT m2 // 2 AS n_edges,
           round((sxy - CAST(sx AS DOUBLE) * sx / m2)
                 / (sxx - CAST(sx AS DOUBLE) * sx / m2), 6) + 0
             AS assortativity
    FROM mom
    """,
    doc="Degree assortativity (Newman 2002, Phys. Rev. Lett. 89): the "
    "Pearson correlation of endpoint degrees over the shingle-overlap "
    "document graph, computed on the SYMMETRIZED edge list (each edge "
    "contributes both orientations, the standard undirected "
    "convention, which also makes sum(x)=sum(y) so one set of "
    "moments suffices). Positive r = template families link to each "
    "other (hub-hub), negative = hub-and-spoke boilerplate — with "
    "graph_modularity_score this is the second structure diagnostic "
    "a dedup pipeline reads before trusting cluster-level decisions. "
    "All moments are exact integers (degree sums, 128-bit/decimal "
    "squares); r is one fixed double expression. Plan: shingle "
    "equi-join for edges (never all-pairs), two keyed aggregates, "
    "1-row output. Ref: no reference analog; public Newman 2002.",
)
def q_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import exploded_shingles

    d = load_table_parallel(spark, sf_dir, "documents")
    sh = exploded_shingles(d).dropDuplicates(["doc_id", "s"])
    # r15 note: a per-shingle collect_set pair expansion (the
    # copurchase_part_pairs trick) was A/B'd here and REVERTED — at
    # tiled sf1 it loses 1.1-2.5x because co-shingle doc sets grow with
    # the corpus (unlike order baskets) and the basket quadratic lands
    # in ONE task per hot shingle, where this join's identical fanout
    # parallelizes across tasks. The s-keyed self-join stands.
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    pairs = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)  # feeds deg + ends
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("doc_id").alias("doc_a"), F.col("d").alias("x"))
    db = deg.select(F.col("doc_id").alias("doc_b"), F.col("d").alias("y"))
    ends = pairs.join(da, "doc_a").join(db, "doc_b").select("x", "y")
    # r15: the stacked union (ends ∪ ends-swapped) recomputed the two
    # degree joins twice to feed one aggregate. The stacked moments are
    # symmetric functions of ends, so fold them in ONE pass with exact
    # identities: count doubles, sx = Σx + Σy, sxx = Σx² + Σy² (decimal
    # sums added BEFORE the double cast), sxy = 2·Σxy (doubled in
    # decimal). Guide §2.3. Equivalence pinned in
    # tests/test_mining_operators.py.
    mom = ends.agg(
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
    )
    return mom.select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        (
            F.round(
                (F.col("sxy") - F.col("sx").cast("double") * F.col("sx") / F.col("m2"))
                / (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("m2")),
                6,
            )
            + F.lit(0)  # -0.0 -> 0.0, as the twin's `+ 0`
        ).alias("assortativity"),
    )


LB_MAX_LAG = 7


@register(
    "stats_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS d,
             CAST(sum({_CENTS}) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    idx AS (
      SELECT row_number() OVER (ORDER BY d) AS t, rev FROM daily
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(rev) AS BIGINT) AS s
      FROM idx
    ),
    z AS (
      SELECT t, CAST(tot.n * rev - tot.s AS BIGINT) AS z
      FROM idx CROSS JOIN tot
    ),
    den AS (
      SELECT CAST(sum(CAST(z AS HUGEINT) * z) AS DOUBLE) AS den FROM z
    ),
    lags AS (SELECT unnest(range(1, {LB_MAX_LAG + 1})) AS k),
    num AS (
      SELECT l.k,
             CAST(sum(CAST(a.z AS HUGEINT) * b.z) AS DOUBLE) AS num
      FROM lags l
      JOIN z a ON TRUE
      JOIN z b ON b.t = a.t + l.k
      GROUP BY l.k
    ),
    r AS (
      SELECT n.k, round(n.num / d.den, 9) AS r_k
      FROM num n CROSS JOIN den d
    ),
    lb AS (
      SELECT CAST(t.n AS DOUBLE) * (t.n + 2)
             * CAST(sum(CAST(round(r.r_k * r.r_k / (t.n - r.k), 12)
                 AS DECIMAL(38,12))) AS DOUBLE) AS lb_stat
      FROM r CROSS JOIN tot t
      GROUP BY t.n
    )
    SELECT r.k AS lag, round(r.r_k, 6) AS acf,
           (SELECT n FROM tot) AS n_days,
           round(lb.lb_stat, 6) AS lb_stat
    FROM r CROSS JOIN lb
    ORDER BY r.k
    """,
    doc="Ljung-Box portmanteau test (Ljung & Box 1978, Biometrika 65) "
    f"on daily-revenue autocorrelations, lags 1..{LB_MAX_LAG} — the "
    "serial-correlation diagnostic that closes the time-series "
    "toolkit (Mann-Kendall: monotone trend; CUSUM: level shift; "
    "runs test: sign dependence; LB: LINEAR dependence at named "
    "lags, the standard residual check after any forecast like "
    "holt_linear_forecast). Exactness: observations are centered in "
    "n-SCALED integer units z_t = n*rev_t - sum(rev) (no rational "
    "mean), so every ACF numerator/denominator is an exact 128-bit/"
    "decimal integer sum and r_k rounds to 9dp before the LB sum, "
    "which rides the decimal accumulator over the 7 lag terms. "
    "Lags index the OBSERVATION sequence (row_number over day) so "
    "calendar gaps cannot shift alignment between engines. Plan: "
    "the day rollup is the only corpus-sized aggregate; everything "
    "after runs on the calendar-bounded series (~2.4k rows) — ONE "
    "window pass supplies all lagged products and one aggregate "
    "yields every moment (the per-lag self-join form paid ~9 "
    "sequential driver jobs and benched slowest-in-catalog). Ref: "
    "no reference analog; standard LB definition.",
)
def q_stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("rev")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("t"), "rev"
    ).localCheckpoint(eager=False)  # calendar-bounded series, reused 3x
    tot = idx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev").cast("bigint").alias("s"),
    )
    z = idx.crossJoin(F.broadcast(tot)).select(
        "t",
        (F.col("n") * F.col("rev") - F.col("s")).cast("bigint").alias("z"),
        "n",
    ).localCheckpoint(eager=False)
    # one window pass supplies all 7 lagged products AND the
    # denominator; a single aggregate then yields every moment —
    # the earlier per-lag self-join shape paid ~9 sequential jobs
    # (BENCH_FULL showed it as the slowest catalog entry at sf0.1)
    wlag = Window.orderBy("t")
    lagged = z.select(
        "z",
        *[F.lag("z", k).over(wlag).alias(f"z{k}") for k in range(1, LB_MAX_LAG + 1)],
    )
    moms = lagged.agg(
        F.sum(F.col("z").cast("decimal(38,0)") * F.col("z"))
        .cast("double")
        .alias("den"),
        *[
            F.sum(F.col("z").cast("decimal(38,0)") * F.col(f"z{k}"))
            .cast("double")
            .alias(f"num{k}")
            for k in range(1, LB_MAX_LAG + 1)
        ],
    )
    r = moms.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("k"),
                        F.round(F.col(f"num{k}") / F.col("den"), 9).alias("r_k"),
                    )
                    for k in range(1, LB_MAX_LAG + 1)
                ]
            )
        ).alias("x")
    ).select("x.k", "x.r_k").localCheckpoint(eager=False)
    lb = (
        r.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            (
                F.col("n").cast("double")
                * (F.col("n") + 2)
                * F.sum(
                    F.round(
                        F.col("r_k") * F.col("r_k") / (F.col("n") - F.col("k")), 12
                    ).cast("decimal(38,12)")
                ).cast("double")
            ).alias("lb_stat")
        )
    )
    return (
        r.crossJoin(F.broadcast(tot.select("n")))
        .crossJoin(F.broadcast(lb.select("lb_stat")))
        .select(
            F.col("k").cast("bigint").alias("lag"),
            F.round("r_k", 6).alias("acf"),
            F.col("n").alias("n_days"),
            F.round("lb_stat", 6).alias("lb_stat"),
        )
        .orderBy("lag")
    )


DUNN_Z_CRIT = 2.807  # two-sided alpha=0.05 Bonferroni over k(k-1)/2=10 pairs


@register(
    "stats_dunn_posthoc",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority AS grp, {_CENTS} AS v FROM orders
    ),
    gv AS (
      SELECT grp, v, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY grp, v
    ),
    tv AS (
      SELECT v, CAST(sum(c) AS BIGINT) AS t,
             CAST(sum(sum(c)) OVER (ORDER BY v
               ROWS UNBOUNDED PRECEDING) - sum(c) AS BIGINT) AS below
      FROM gv GROUP BY v
    ),
    rg AS (
      SELECT gv.grp, CAST(sum(gv.c) AS BIGINT) AS n_g,
             CAST(sum(gv.c * (2 * tv.below + tv.t + 1)) AS BIGINT) AS r2
      FROM gv JOIN tv USING (v) GROUP BY gv.grp
    ),
    tot AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
      FROM tv
    ),
    pairs AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b,
             CAST(a.r2 AS DOUBLE) / (2.0 * a.n_g) AS mr_a,
             CAST(b.r2 AS DOUBLE) / (2.0 * b.n_g) AS mr_b,
             a.n_g AS na, b.n_g AS nb, t.n, t.tie_sum
      FROM rg a JOIN rg b ON a.grp < b.grp CROSS JOIN tot t
    )
    SELECT grp_a, grp_b,
           round(mr_a, 6) AS mean_rank_a, round(mr_b, 6) AS mean_rank_b,
           round((mr_a - mr_b)
             / sqrt((CAST(n AS DOUBLE) * (n + 1) / 12.0
                     - CAST(tie_sum AS DOUBLE) / (12.0 * (n - 1)))
                    * (1.0 / na + 1.0 / nb)), 6) + 0 AS z,
           CAST(abs((mr_a - mr_b)
             / sqrt((CAST(n AS DOUBLE) * (n + 1) / 12.0
                     - CAST(tie_sum AS DOUBLE) / (12.0 * (n - 1)))
                    * (1.0 / na + 1.0 / nb))) > {DUNN_Z_CRIT}
             AS INT) AS significant
    FROM pairs
    ORDER BY grp_a, grp_b
    """,
    doc="Dunn's post-hoc test (Dunn 1964, Technometrics 6): which "
    "priority-class PAIRS differ, the follow-up stats_kruskal_wallis "
    "licenses when its omnibus H rejects — pairwise z on mean ranks "
    "with the tie-corrected KW variance N(N+1)/12 - sum(t^3-t)/"
    "12(N-1), flagged at the Bonferroni critical value "
    f"z > {DUNN_Z_CRIT} (alpha 0.05 two-sided over the 10 pairs; a "
    "fixed constant because neither engine ships a portable normal "
    "CDF, and the decision rule is what a pipeline consumes). Shares "
    "the doubled-integer rank algebra with the KW entry: every rank "
    "sum is an exact bigint, z is a fixed double expression per "
    "group pair. Plan: the same two hash aggregates + a k^2-row "
    "(=25) pair join; corpus-sized work is identical to KW. Ref: no "
    "reference analog; standard Dunn 1964.",
)
def q_stats_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("v"),
    )
    gv = x.groupBy("grp", "v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    gv = gv.localCheckpoint(eager=False)
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    tv = (
        gv.groupBy("v")
        .agg(F.sum("c").cast("bigint").alias("t"))
        .withColumn("below", (F.sum("t").over(w) - F.col("t")).cast("bigint"))
    )
    rg = (
        gv.join(tv, "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * (2 * F.col("below") + F.col("t") + 1))
            .cast("bigint")
            .alias("r2"),
        )
        .localCheckpoint(eager=False)
    )
    tot = tv.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_sum"),
    )
    a = rg.select(
        F.col("grp").alias("grp_a"),
        (F.col("r2").cast("double") / (2.0 * F.col("n_g"))).alias("mr_a"),
        F.col("n_g").alias("na"),
    )
    b = rg.select(
        F.col("grp").alias("grp_b"),
        (F.col("r2").cast("double") / (2.0 * F.col("n_g"))).alias("mr_b"),
        F.col("n_g").alias("nb"),
    )
    pairs = (
        a.join(b, F.col("grp_a") < F.col("grp_b"))
        .crossJoin(F.broadcast(tot))
    )
    se = F.sqrt(
        (
            F.col("n").cast("double") * (F.col("n") + 1) / 12.0
            - F.col("tie_sum").cast("double") / (12.0 * (F.col("n") - 1))
        )
        * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    z = (F.col("mr_a") - F.col("mr_b")) / se
    return pairs.select(
        "grp_a",
        "grp_b",
        F.round("mr_a", 6).alias("mean_rank_a"),
        F.round("mr_b", 6).alias("mean_rank_b"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > DUNN_Z_CRIT).cast("int").alias("significant"),
    ).orderBy("grp_a", "grp_b")
