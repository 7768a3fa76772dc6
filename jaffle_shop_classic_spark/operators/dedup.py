"""Deduplication operators (SURVEY §2.4 X4/X13) over the documents table.

Four tiers, each the idiomatic Spark shape for its scale regime:

  exact        md5(text) hash-groupBy — one partial->final aggregate.
  minhash+LSH  word-3-shingles -> k portable min-hashes -> banded keys ->
               self-equi-join on band key. Map-only signature stage, one
               shuffle on band keys; candidate verification joins
               signatures back. This is THE 100 TB near-dup pattern: cost
               is O(docs x k) + O(candidate pairs), never O(n^2).
  simhash      16-bit sign-aggregated token fingerprint; hamming-close
               docs collide on prefix buckets.
  ngram-jaccard exact pairwise Jaccard *within small blocks* (here:
               same source) — the verifier you run on LSH candidates,
               expressed standalone for oracle coverage.

Portability trick: every hash is md5 (identical hex in Spark and DuckDB),
and min-of-hex-strings == min-of-values for fixed-width lowercase hex —
so even the MinHash signatures are bit-for-bit oracle-checkable. A
production deployment would swap md5 for xxhash64 (cheaper, JVM-side);
the plan shape is unchanged.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.parquet import load_table, load_table_parallel
from .catalog import register
from .text import _TOKENS_SQL, tokens_col

NUM_HASHES = 8  # minhash signature length
NUM_BANDS = 4  # 2 hashes per band
SIMHASH_BITS = 16


# ---------------------------------------------------------------- shingles
def shingles_col(text: Column) -> Column:
    """Distinct word 3-shingles; whole text as fallback for tiny docs."""
    toks = tokens_col(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= 3, grams).otherwise(F.array(F.trim(text)))
    )


_SHINGLES_SQL = f"""
    list_distinct(
      CASE WHEN len({_TOKENS_SQL}) >= 3
           THEN list_transform(range(1, len({_TOKENS_SQL}) - 1),
                i -> {_TOKENS_SQL}[i] || ' ' || {_TOKENS_SQL}[i+1] || ' ' || {_TOKENS_SQL}[i+2])
           ELSE [trim(text)] END)
"""


# ---------------------------------------------------------------- exact
@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           count(*) AS n_docs,
           min(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY md5(text)
    """,
    doc="X4: exact content dedup — hash-groupBy on md5(text), keep the "
    "min doc_id per group. Single partial->final aggregate; at 100 TB "
    "the 32-byte hash shuffles instead of the document bodies.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


# ---------------------------------------------------------------- minhash
# (lambda factories below are single-arg on purpose: a two-arg lambda
# would make F.transform pass the *element index* as the second arg)


def minhash_sig(shingles: Column) -> Column:
    """k portable min-hashes: min over shingles of lane i, where lane i is
    the i-th 8-hex-char slice of md5(shingle)||md5('x'||shingle).

    Reference implementation as a single column expression — correct but
    O(k x full-shingle-expression) per row because each hash lane
    re-expands the shingle subtree (no CSE through higher-order
    lambdas; measured 46s vs 7s at sf0.1). Production queries use
    ``minhash_signatures`` (explode + groupBy-min) instead; values are
    identical.
    """

    def _lane(i: int):
        return lambda s: F.substring(
            F.concat(F.md5(s), F.md5(F.concat(F.lit("x"), s))), 8 * i + 1, 8
        )

    return F.array(
        *[F.array_min(F.transform(shingles, _lane(i))) for i in range(NUM_HASHES)]
    )



def exploded_shingles(d: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id, *extra_cols, s): one row per word-3-shingle occurrence.

    posexplode the token array and index the *carried* array with
    element_at(pos+2/pos+3) for the following two words. The generate
    and the concat projection sit in ONE whole-stage-codegen span with
    no shuffle at all — measured 0.29s vs 2.3s for the previous
    posexplode + window-lead form at sf0.1 (the window forced a
    partitionBy(doc_id) shuffle over millions of tiny groups; lead() is
    the wrong tool when the source array is still in hand).

    The tokenize MUST live in its own select below the explode: when
    split() is inlined into the same projection as posexplode, Catalyst
    collapses the projects and re-evaluates split(trim(text)) per
    *exploded row* — O(tokens^2) per doc, measured 6x slower. With the
    pre-projection, split runs once per doc and the Generate consumes
    the materialized array.

    The tiny-doc fallback (<3 tokens => whole trimmed text is the one
    shingle) rides the SAME explode via a conditional source array
    instead of a separate union branch: a union would evaluate the
    input plan twice (two scans — or, when the input is itself an
    aggregate as in pipeline_corpus_curation, the whole upstream
    recomputed per branch). Rows are a multiset; callers needing the
    shingle *set* dropDuplicates on (doc_id, s).

    Built with selectExpr strings (parsed JVM-side in one Py4J call per
    select) — the Column-builder form cost ~100 bridge round trips per
    plan build, a measurable share of warm query latency."""
    base = d.selectExpr(
        "doc_id",
        *extra_cols,
        r"split(trim(text), '\\s+') AS tk",
        "trim(text) AS raw",
    )
    ex = base.selectExpr(
        "doc_id",
        *extra_cols,
        "size(tk) AS n",
        "tk",
        "posexplode(CASE WHEN size(tk) >= 3 THEN tk ELSE array(raw) END) AS (pos, tok)",
    )
    return ex.filter("n < 3 OR pos <= n - 3").selectExpr(
        "doc_id",
        *extra_cols,
        "CASE WHEN n >= 3 THEN concat_ws(' ', tok, element_at(tk, pos + 2), "
        "element_at(tk, pos + 3)) ELSE tok END AS s",
    )


def minhash_signatures(
    d: DataFrame, fast: bool = False, shingles: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig array<k>): posexplode tokens -> 3-gram shingles via
    element_at on the carried array -> k salted hashes per shingle ->
    groupBy-min.

    Two deliberate choices versus the naive column expression
    (``minhash_sig``), same output values:
    - whole-stage-codegen all the way, zero pre-agg shuffle: tokenize +
      posexplode + element_at replaces both interpreted higher-order
      lambdas (46s) and window lead() (2.6s) — this form is 0.3s at
      sf0.1 for the full signature stage;
    - no array_distinct: min over a shingle *multiset* equals min over
      the set, so dedup of shingles is skipped entirely.

    The only shuffle is the final min-agg (k fixed-width hashes per
    doc). fast=True swaps md5 for xxhash64 (engine-internal, cheaper;
    no SQL oracle). ``shingles`` lets a caller that already holds a
    (doc_id, s) shingle frame (set or multiset — min is identical over
    both) feed it in instead of re-exploding the corpus.
    """
    if shingles is None:
        shingles = exploded_shingles(d)

    if fast:
        hashed = shingles.selectExpr(
            "doc_id",
            *[f"xxhash64(concat('{i}|', s)) AS h{i}" for i in range(NUM_HASHES)],
        )
    else:
        # k lanes from TWO md5 evaluations, not k: md5(s)||md5('x'||s) is
        # 64 hex chars sliced into k=8 independent-enough 32-bit lanes
        # (slices of a cryptographic hash are uniform; splitting one wide
        # hash into minhash lanes is standard practice). The signature
        # stage is pure map-side CPU — at 100 TB this 4x hash-count cut
        # is the dominant cost of the whole LSH pipeline. Measured here:
        # candidate-pair stage 3.5s -> 2.2s at sf0.1.
        #
        # Lanes are parsed to LONG before the min-agg: min(string)
        # buffers are not hash-aggregatable (UnsafeRow mutable-type
        # rule), so string lanes force a SortAggregate that sorts the
        # FULL shingle stream on both sides of the shuffle — at 100 TB
        # that is a sort of trillions of rows where a hash agg with
        # map-side combine does no sorting at all. Fixed-width lowercase
        # hex orders identically lexicographically and numerically, so
        # min commutes with the parse and the exact hex signature is
        # reconstructed after the agg (oracle parity unchanged).
        hashed = shingles.selectExpr(
            "doc_id",
            "concat(md5(s), md5(concat('x', s))) AS hh",
        ).selectExpr(
            "doc_id",
            *[
                f"CAST(conv(substring(hh, {8 * i + 1}, 8), 16, 10) AS BIGINT) AS h{i}"
                for i in range(NUM_HASHES)
            ],
        )
    agg = hashed.groupBy("doc_id").agg(
        *[F.expr(f"min(h{i}) AS m{i}") for i in range(NUM_HASHES)]
    )
    if fast:
        sig = "array(" + ", ".join(f"m{i}" for i in range(NUM_HASHES)) + ")"
    else:
        sig = (
            "array("
            + ", ".join(f"lower(lpad(hex(m{i}), 8, '0'))" for i in range(NUM_HASHES))
            + ")"
        )
    return agg.selectExpr("doc_id", f"{sig} AS sig")


def _minhash_sig_sql(shingles_expr: str) -> str:
    parts = ", ".join(
        f"list_aggregate(list_transform({shingles_expr}, "
        f"s -> substr(md5(s) || md5('x' || s), {8 * i + 1}, 8)), 'min')"
        for i in range(NUM_HASHES)
    )
    return f"[{parts}]"


_SIGS_CTE = f"""
    sigs AS (
      SELECT doc_id, {_minhash_sig_sql('sh')} AS sig
      FROM (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)
    )
"""


@register(
    "dedup_minhash_signature",
    oracle=f"""
    WITH {_SIGS_CTE}
    SELECT doc_id, array_to_string(sig, ',') AS signature
    FROM sigs
    """,
    doc="X13: MinHash signatures (k=8) over word-3-shingles — map-only "
    "stage, O(docs x k x shingles), embarrassingly parallel.",
)
def q_dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    return sigs.select("doc_id", F.array_join("sig", ",").alias("signature"))


def _bands_expr(sig: str) -> str:
    """Band keys (Spark SQL fragment): md5 over each pair of adjacent
    signature entries — one F.expr per call site, not 5 Column calls
    per band."""
    return (
        "array("
        + ", ".join(
            f"md5(concat(element_at({sig}, {2 * j + 1}), "
            f"element_at({sig}, {2 * j + 2}), '{j}'))"
            for j in range(NUM_BANDS)
        )
        + ")"
    )


def _bands(sig: Column) -> Column:
    """Column wrapper kept for callers holding a Column; prefer
    _bands_expr in selectExpr-built plans."""
    return F.array(
        *[
            F.md5(
                F.concat(
                    F.element_at(sig, 2 * j + 1),
                    F.element_at(sig, 2 * j + 2),
                    F.lit(str(j)),
                )
            )
            for j in range(NUM_BANDS)
        ]
    )


_BANDS_SQL = (
    "["
    + ", ".join(f"md5(sig[{2 * j + 1}] || sig[{2 * j + 2}] || '{j}')" for j in range(NUM_BANDS))
    + "]"
)

# Hot-band cap: a band bucket with more than MAX_BAND_SIZE members is a
# degenerate cluster (boilerplate, template spam, empty docs) whose pair
# expansion is quadratic in bucket size — the one way a banded LSH join
# can blow up at 100 TB. Buckets over the cap are dropped entirely before
# the self-join: their members are near-identical, so exact dedup
# (dedup_exact) already collapses them, and the candidate join stays
# O(sum cap * bucket_count). 64 is ~4x the largest bucket observed at
# sf0.1 (16), so the cap never fires on driver data — it exists for the
# skewed tail at scale (exercised by the hot-band tests in
# tests/test_operators.py).
MAX_BAND_SIZE = 64


def capped_bands(bands: DataFrame, cap: int = MAX_BAND_SIZE) -> DataFrame:
    """Filter out band buckets larger than ``cap`` members.

    The window count partitions by band_key — the same key the candidate
    self-join shuffles on, so at scale the count rides the join's own
    exchange (one shuffle, not two).
    """
    w = Window.partitionBy("band_key")
    return (
        bands.withColumn("band_n", F.count(F.lit(1)).over(w))
        .filter(F.col("band_n") <= cap)
        .drop("band_n")
    )


def candidate_pairs(bands: DataFrame, cap: int | None = MAX_BAND_SIZE) -> DataFrame:
    """Banded candidate generation with the hot-band cap applied (pass
    cap=None to skip capping): distinct (doc_a < doc_b) candidate
    pairs, O(candidates) never O(n^2).

    r16 (guide §2.1/§2.4, the copurchase_part_pairs trick): the CAPPED
    path folds each band bucket to ONE row (groupBy band_key,
    collect_list) and expands the a < b pairs in a codegen
    transform/slice over the sorted member list — the bucket-size
    window, its band_key sort, and the band_key self-join all collapse
    into the single groupBy exchange. The cap makes this scale-safe
    where the shingle-keyed variant was not (r15 lesson): per-bucket
    work is bounded by cap*(cap-1)/2 pairs in one task REGARDLESS of
    corpus size, because over-cap buckets are dropped before expansion
    exactly as capped_bands dropped them (size(members) == the window's
    count(*) — one bands row per member). The UNCAPPED path (graph
    substrate: full candidate graph semantics) keeps the self-join,
    whose identical per-key fanout parallelizes where a basket would
    serialize a hot bucket. Values identical either way; equivalence
    pinned in tests/test_dedup.py.
    """
    if cap is None:
        x, y = bands.alias("x"), bands.alias("y")
        return (
            x.join(
                y,
                (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
            .distinct()
        )
    grp = bands.groupBy("band_key").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    return (
        grp.filter(F.size("ds") <= cap)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> named_struct('doc_a', x, 'doc_b', y))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        # strict guard: a duplicated member (only possible via a band-
        # hash collision within one doc) must not emit a self-pair the
        # join form's doc_a < doc_b condition would have excluded
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def _bands_sized_sql(cap: int = MAX_BAND_SIZE) -> str:
    """Oracle twin of capped_bands over the ``bands`` CTE."""
    return f"""
    bands_sized AS (
      SELECT doc_id, band_key FROM (
        SELECT doc_id, band_key,
               count(*) OVER (PARTITION BY band_key) AS band_n
        FROM bands)
      WHERE band_n <= {cap}
    )"""


_SIG_MATCH_SQL = (
    "list_sum(list_transform(range(1, "
    f"{NUM_HASHES + 1}), i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))"
    f" / {float(NUM_HASHES)}"
)


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SIGS_CTE},
    bands AS (
      SELECT doc_id, unnest({_BANDS_SQL}) AS band_key
      FROM sigs
    ),
    {_bands_sized_sql()},
    pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands_sized x JOIN bands_sized y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    )
    SELECT p.doc_a, p.doc_b,
           round({_SIG_MATCH_SQL}, 4) AS est_jaccard
    FROM pairs p
    JOIN sigs a ON a.doc_id = p.doc_a
    JOIN sigs b ON b.doc_id = p.doc_b
    """,
    doc="X13: MinHash LSH candidate pairs — band signatures (4 bands x 2 "
    "rows), hot-band cap (MAX_BAND_SIZE, see capped_bands), self-equi-"
    "join on band key, then estimate Jaccard from full signatures. One "
    "shuffle on band keys + one on doc ids; never compares all n^2 "
    "pairs, and the cap bounds the worst bucket's pair expansion.",
)
def q_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    bands = sigs.selectExpr("doc_id", f"explode({_bands_expr('sig')}) AS band_key")
    pairs = candidate_pairs(bands)
    a, b = sigs.alias("a"), sigs.alias("b")
    matches = F.aggregate(
        F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda u, v: (u == v).cast("int")),
        F.lit(0),
        lambda acc, m: acc + m,
    )
    return (
        pairs.join(a, pairs.doc_a == F.col("a.doc_id"))
        .join(b, pairs.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / float(NUM_HASHES), 4).alias("est_jaccard"),
        )
    )


# ---------------------------------------------------------------- simhash
def _bit_pm1_sql(bit: int) -> str:
    """Portable SQL: bit <bit> of an md5 hex digest mapped to +/-1."""
    nibble_pos = bit // 4 + 1
    shift = 3 - bit % 4
    return (
        f"(CAST(floor((instr('0123456789abcdef', substr(h, {nibble_pos}, 1)) - 1) "
        f"/ {2 ** shift}) AS INTEGER) % 2) * 2 - 1"
    )


def _simhash_sql() -> str:
    sums = ", ".join(f"sum({_bit_pm1_sql(b)}) AS s{b}" for b in range(SIMHASH_BITS))
    digits = ", ".join(f"CASE WHEN s{b} >= 0 THEN '1' ELSE '0' END" for b in range(SIMHASH_BITS))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS t FROM documents
    ),
    hashed AS (SELECT doc_id, md5(t) AS h FROM tok),
    sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, concat({digits}) AS simhash
    FROM sums
    """


@register(
    "dedup_simhash",
    oracle=_simhash_sql(),
    doc="X13: 16-bit SimHash — each distinct token votes +/-1 per bit of "
    "its md5; the sign vector is the fingerprint. Hamming-close "
    "fingerprints => similar token sets. Explode + one aggregate; the "
    "16 bit-sums ride the same shuffle. Identical bit arithmetic runs "
    "in both engines via portable SQL expressions.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("t")
    ).select("doc_id", F.md5("t").alias("h"))
    sums = tok.groupBy("doc_id").agg(
        *[F.sum(F.expr(_bit_pm1_sql(b))).alias(f"s{b}") for b in range(SIMHASH_BITS)]
    )
    digits = [
        F.when(F.col(f"s{b}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for b in range(SIMHASH_BITS)
    ]
    return sums.select("doc_id", F.concat(*digits).alias("simhash"))


# ---------------------------------------------------------------- jaccard
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, source, unnest({_SHINGLES_SQL}) AS s
      FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(c.n_common AS DOUBLE)
                 / (sa.nsh + sb.nsh - c.n_common), 4) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT 50
    """,
    doc="X13: exact n-gram Jaccard within blocks (same source) via the "
    "scalable shingle-equi-join formulation: explode distinct shingles, "
    "equi-join on (shingle, block), count common per pair, then "
    "|A union B| = |A|+|B|-common. Cost is O(shingle-collisions), not "
    "O(block^2 x array ops) — the earlier all-pairs array_intersect "
    "form took 18s at sf0.1; this runs in ~2s and is the form that "
    "survives 100 TB. Pairs with zero overlap (jaccard 0) never "
    "materialize, which is exactly the right behavior at scale.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sh = exploded_shingles(d, "source").dropDuplicates(["doc_id", "s"])
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("nsh_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nsh_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("nsh_a") + F.col("nsh_b") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(50)
    )


@register(
    "pipeline_corpus_curation",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text, {_TOKENS_SQL} AS t FROM documents
    ),
    quality AS (
      SELECT doc_id, text FROM toks
      WHERE len(t) >= 20
        AND CAST(len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
            / len(t) < 0.3
    ),
    exact AS (
      SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ),
    {_SIGS_CTE.strip()},
    kept_sigs AS (
      SELECT s.doc_id, s.sig FROM sigs s JOIN exact e ON s.doc_id = e.doc_id
    ),
    bands AS (
      SELECT doc_id, unnest({_BANDS_SQL}) AS band_key FROM kept_sigs
    ),
    near_dups AS (
      SELECT DISTINCT y.doc_id AS drop_id
      FROM bands x JOIN bands y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    )
    SELECT e.doc_id FROM exact e
    WHERE e.doc_id NOT IN (SELECT drop_id FROM near_dups)
    """,
    doc="Flagship LLM-data-pipeline composition: quality filter (length + "
    "stopword ratio) -> exact dedup (md5 groupBy, keep min doc_id) -> "
    "MinHash-LSH near-dup removal (drop the higher id of every "
    "candidate pair) -> surviving doc ids. Composed as ONE linear plan "
    "with zero joins: the exact-dedup aggregate carries the text "
    "forward so signatures are computed only for survivors, and the "
    "band-bucket self-join + anti-join is replaced by a window-min per "
    "bucket ('drop the higher id of every pair' == 'drop any doc that "
    "is not the bucket minimum somewhere') + a bool_or per doc. 4 "
    "shuffles total, no duplicated subtrees (the join form recomputed "
    "the signature stage per self-join side: 2.0s -> 0.9s at sf0.1), "
    "and no quadratic pair blowup inside hot LSH buckets — the "
    "window/agg form is linear in bucket size, which is the shape that "
    "survives 100 TB skew (SCALING.md).",
)
def q_pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import STOPWORDS

    d = load_table(spark, sf_dir, "documents")
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    quality = d.selectExpr("doc_id", "text", r"split(trim(text), '\\s+') AS tk").filter(
        f"size(tk) >= 20 AND CAST(size(filter(tk, x -> x IN ({stops}))) AS DOUBLE)"
        " / size(tk) < 0.3"
    ).select("doc_id", "text")

    # exact dedup keeping the text (all rows in a group share it), so the
    # signature stage below reads survivors directly instead of joining
    survivors = quality.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"), F.first("text").alias("text")
    )

    sigs = minhash_signatures(survivors.select("doc_id", "text"))
    bands = sigs.selectExpr("doc_id", f"explode({_bands_expr('sig')}) AS band_key")
    # a doc is a near-dup iff some bucket it occupies contains a lower id
    mn = F.min("doc_id").over(Window.partitionBy("band_key"))
    flagged = bands.select("doc_id", (F.col("doc_id") > mn).alias("is_dup"))
    return (
        flagged.groupBy("doc_id")
        .agg(F.max("is_dup").alias("dropped"))
        .filter(~F.col("dropped"))
        .select("doc_id")
    )


@register(
    "dedup_minhash_fast_pairs",
    oracle=None,  # xxhash64 is Spark-internal — rows-only check
    doc="X13: MinHash LSH candidate pairs on the xxhash64 fast path — "
    "identical banding/join plan to dedup_minhash_lsh_pairs (incl. the "
    "hot-band cap) but with 64-bit JVM hashing (the production choice "
    "at 100 TB; measured 3.5x cheaper signatures at sf0.1: 0.12s vs "
    "0.42s). Pair quality is equivalent in expectation; exact pair sets "
    "differ because the hash family differs.",
)
def q_dedup_minhash_fast_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, fast=True)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.element_at("sig", 2 * j + 1),
                        F.element_at("sig", 2 * j + 2),
                        F.lit(j),
                    )
                    for j in range(NUM_BANDS)
                ]
            )
        ).alias("band_key"),
    )
    return candidate_pairs(bands)


@register(
    "decontam_ngram_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 100 = 0),
    corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 100 <> 0),
    shared AS (
      SELECT doc_id, count(*) AS n_shared
      FROM corp WHERE s IN (SELECT s FROM bench)
      GROUP BY doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corp GROUP BY doc_id)
    SELECT sh2.doc_id, sh2.n_shared, sz.n_shingles,
           round(CAST(sh2.n_shared AS DOUBLE) / sz.n_shingles, 4)
             AS contamination_ratio
    FROM shared sh2 JOIN sizes sz ON sh2.doc_id = sz.doc_id
    """,
    doc="Benchmark decontamination: flag training documents whose word-"
    "3-shingles overlap a held-out eval set (here: every 100th doc_id "
    "stands in for the benchmark). Corpus shingles LEFT-SEMI join the "
    "benchmark shingle set, then count per doc against the doc's total "
    "distinct shingles. At 100 TB the benchmark side is tiny and "
    "broadcasts, making the contamination scan a map-side semi-join — "
    "no corpus shuffle beyond the per-doc count, which re-uses the "
    "shingle dedup's (doc_id, s) partitioning.",
)
def q_decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    sh = exploded_shingles(d).dropDuplicates(["doc_id", "s"])
    bench = sh.filter(F.col("doc_id") % 100 == 0).select("s")
    corp = sh.filter(F.col("doc_id") % 100 != 0)
    shared = (
        corp.join(F.broadcast(bench), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = corp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return shared.join(sizes, "doc_id").select(
        "doc_id",
        "n_shared",
        "n_shingles",
        F.round(F.col("n_shared").cast("double") / F.col("n_shingles"), 4).alias(
            "contamination_ratio"
        ),
    )


# ------------------------------------------------------- connected components
MAX_CC_ITERS = 20

def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (doc_a < doc_b) — the edge list both
    CC variants cluster."""
    d = load_table_parallel(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    bands = sigs.selectExpr("doc_id", f"explode({_bands_expr('sig')}) AS band_key")
    # uncapped: the oracle closures below enumerate the FULL candidate
    # graph; graph shape (not pair volume) is what these operators test
    return candidate_pairs(bands, cap=None)


def _symmetric_edges(pairs: DataFrame) -> DataFrame:
    """(doc_a < doc_b) pairs -> eager-checkpointed symmetric (src, dst)
    edge list — the shared exchange base of the CC/PageRank/LPA loops."""
    return (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    probe: Callable[[DataFrame], Hashable],
    max_rounds: int,
    what: str,
    oracle_rounds: int | None = None,
) -> tuple[DataFrame, int]:
    """Run ``step`` until ``probe`` stops moving; returns (state, rounds)
    where ``rounds`` is the round whose probe matched its predecessor.

    Every round's output is cut from its lineage by a LAZY
    localCheckpoint that the probe's action materializes, so a round
    costs the step's own jobs plus one probe job, and round r's plan is
    never longer than one step. ``probe`` must be monotone in the
    round (labels only fall, edges only disappear, ...) so an unchanged
    value is the fixpoint. Raises RuntimeError naming ``what`` when the
    cap is hit instead of returning a non-fixpoint, and — when
    ``oracle_rounds`` is the DuckDB twin's unroll depth — as soon as
    more rounds changed the state than the twin unrolls, since the
    unrolled oracle equals the fixpoint only inside that depth. At
    100 TB the lazy localCheckpoint swaps for a durable checkpoint."""
    prev = probe(state)
    for rounds in range(1, max_rounds + 1):
        state = step(state).localCheckpoint(eager=False)
        cur = probe(state)
        if cur == prev:
            return state, rounds
        if oracle_rounds is not None and rounds > oracle_rounds:
            raise RuntimeError(
                f"{what} changed for {rounds} rounds but the DuckDB twin "
                f"unrolls only {oracle_rounds} — raise its unroll depth "
                "to keep parity sound"
            )
        prev = cur
    raise RuntimeError(f"{what} did not converge in {max_rounds} rounds")


def min_label_components(edges: DataFrame, max_rounds: int) -> DataFrame:
    """Hash-min connected components of a symmetric (src, dst) edge
    list -> DataFrame[node, label], label = min node of the component.

    Round 0 is fused: label(u) = min(u, min(N(u))) is exactly what one
    propagation of identity labels produces, but costs ONE aggregate
    over the edges instead of distinct + join + union + agg (every node
    appears as src, so no node list is needed). Each further round
    joins labels to the edges and keeps min(neighbor label, own label);
    labels only ever decrease, so the sum-of-labels probe is monotone.
    Rounds needed = graph diameter; high-diameter graphs take
    ``star_components`` instead."""
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("mn"))
        .select("node", F.least(F.col("node"), F.col("mn")).alias("label"))
        .localCheckpoint(eager=False)
    )

    def step(labels: DataFrame) -> DataFrame:
        prop = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        return labels.unionByName(prop).groupBy("node").agg(F.min("label").alias("label"))

    labels, _ = fixpoint(
        labels,
        step,
        lambda labels: labels.agg(F.sum("label")).first()[0],
        max_rounds,
        "hash-min connected components",
    )
    return labels


# Both CC variants compute the same fixpoint (component_id = min doc_id
# reachable over the LSH candidate graph), so they share one oracle;
# the CTE prefix is reused by dedup_keep_best_representative.
_CC_CTES = f"""
    WITH RECURSIVE {_SIGS_CTE},
    bands AS (
      SELECT doc_id, unnest({_BANDS_SQL}) AS band_key FROM sigs
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, r.label
      FROM reach r JOIN edges e ON e.src = r.doc_id
      WHERE r.label < e.dst
    ),
    comp AS (
      SELECT doc_id, min(label) AS component_id FROM reach GROUP BY doc_id
    )"""

_CC_ORACLE = f"""{_CC_CTES}
    SELECT c.doc_id, c.component_id, s.n_members
    FROM comp c
    JOIN (SELECT component_id, count(*) AS n_members
          FROM comp GROUP BY component_id) s
      ON c.component_id = s.component_id
    """


@register(
    "dedup_cluster_components",
    oracle=_CC_ORACLE,
    doc="Near-dup CLUSTERING: connected components over the MinHash-LSH "
    "candidate-pair graph, labeling every clustered document with "
    "component_id = min doc_id of its component (the canonical keeper) "
    "plus the component size. Spark side is iterative hash-min label "
    "propagation: each round joins labels to the symmetric edge list "
    "and takes min(neighbor label, own label); convergence is detected "
    "by the monotone sum-of-labels fixpoint, and each round is "
    "localCheckpoint-ed to truncate lineage. Rounds needed = graph "
    "diameter (near-dup components are shallow; typically <=3). For "
    "high-diameter graphs use the sibling "
    "dedup_cluster_components_star (large-star/small-star, O(log n) "
    "rounds); at 100 TB both swap localCheckpoint for durable "
    "checkpoints. The DuckDB oracle computes the same fixpoint as a "
    "recursive min-label closure.",
)
def q_dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _symmetric_edges(_lsh_candidate_pairs(spark, sf_dir))
    comp = min_label_components(edges, MAX_CC_ITERS).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("n_members"))
    return comp.join(sizes, "component_id").select(
        "doc_id", "component_id", "n_members"
    )


STAR_MAX_ITERS = 30  # >= 2*log2(n)+2 alternations for any realistic n


def star_components(pairs: DataFrame, max_iters: int = STAR_MAX_ITERS) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., 'Connected Components in MapReduce and
    Beyond'): O(log n) rounds regardless of graph diameter, vs hash-min's
    diameter-many rounds. Each round is two groupBy-min aggregates and
    two equi-joins on node id — the same shuffle building blocks as
    hash-min, just a smarter rewiring rule.

    ``pairs``: DataFrame[doc_a, doc_b] undirected edges with
    doc_a < doc_b. Returns DataFrame[doc_id, component_id] where
    component_id = min doc_id of the component.

    large-star(u): every neighbor v > u re-points at m = min(N(u)+{u})
    small-star(u): every neighbor v < u (and u itself) re-points at
                   m = min of u's smaller neighborhood
    Both preserve connectivity and strictly shrink star height; the
    fixpoint is the star graph (node -> component min). Convergence is
    detected by the (count, sum src, sum dst) signature of the canonical
    edge set — monotone under both rules.
    """
    canon = (
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def step(canon: DataFrame) -> DataFrame:
        adj = canon.unionByName(
            canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # large-star
        mins = (
            adj.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least(F.col("src"), F.col("mn")).alias("m"))
        )
        # checkpointed because the symmetrize below references it twice
        # (no checkpoint => the join+agg subtree runs twice per round);
        # no distinct though — duplicate (v, m) edges don't change
        # small-star's min aggregates, and canon's distinct at the end
        # of the round collapses them
        large = (
            adj.filter(F.col("dst") > F.col("src"))
            .join(mins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .localCheckpoint(eager=True)
        )
        # small-star
        adj2 = large.unionByName(
            large.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        smaller = adj2.filter(F.col("dst") < F.col("src"))
        m2 = smaller.groupBy("src").agg(F.min("dst").alias("m"))
        return (
            smaller.join(m2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .unionByName(m2.select("src", F.col("m").alias("dst")))
            .distinct()
        )

    def sig(e: DataFrame) -> tuple:
        r = e.agg(
            F.count(F.lit(1)).alias("n"), F.sum("src").alias("s"), F.sum("dst").alias("d")
        ).first()
        return (r["n"], r["s"], r["d"])

    canon, _ = fixpoint(canon, step, sig, max_iters, "star connected components")
    comp = canon.select(F.col("src").alias("doc_id"), F.col("dst").alias("component_id"))
    roots = canon.select(F.col("dst").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("component_id")
    )
    return comp.unionByName(roots).distinct()


@register(
    "dedup_cluster_components_star",
    oracle=_CC_ORACLE,
    doc="The 100 TB form of dedup_cluster_components: large-star/"
    "small-star alternation over the same MinHash-LSH candidate graph. "
    "Hash-min needs diameter-many rounds (fine for shallow near-dup "
    "blobs, pathological for chain-shaped graphs — a 1M-link chain of "
    "pairwise near-dups is 1M rounds); star contraction needs O(log n) "
    "rounds on ANY topology, with identical per-round cost: groupBy-"
    "min + equi-join shuffles on the node id, lineage truncated per "
    "round. Same fixpoint, same oracle. See "
    "tests/test_scale_tools.py for the 256-node path-graph proof that "
    "converges in <=10 alternations where hash-min would need 255 "
    "rounds.",
)
def q_dedup_cluster_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = star_components(_lsh_candidate_pairs(spark, sf_dir))
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("n_members"))
    return comp.join(sizes, "component_id").select(
        "doc_id", "component_id", "n_members"
    )


SPAN_N = 5  # duplicate-span window in tokens (production: ~50, Lee et al.)
_SPAN_GRAM_SQL = (
    "md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || "
    "toks[i+3] || ' ' || toks[i+4])"
)


@register(
    "dedup_duplicate_ngram_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - {SPAN_N - 2}),
                    i -> {_SPAN_GRAM_SQL})) AS g
      FROM t WHERE len(toks) >= {SPAN_N}
    ),
    c AS (SELECT g, count(*) AS c FROM grams GROUP BY g)
    SELECT grams.doc_id,
           count(*) AS n_spans,
           CAST(count(*) FILTER (c.c > 1) AS BIGINT) AS n_dup_spans,
           round(CAST(count(*) FILTER (c.c > 1) AS DOUBLE) / count(*), 4)
             AS dup_ratio
    FROM grams JOIN c USING (g)
    GROUP BY grams.doc_id
    """,
    doc=f"Position-level duplicate-span detection — the ExactSubstr idea "
    "(Lee et al., 'Deduplicating Training Data Makes Language Models "
    f"Better') at {SPAN_N}-token granularity: every token position "
    "starts a window, windows are hashed, and a window whose hash "
    "occurs more than once ANYWHERE in the corpus marks a duplicated "
    "span (production trims those spans instead of dropping whole "
    "docs; window ~50 tokens). Unlike set-based MinHash this is "
    "position-exact: it catches a copied paragraph inside an "
    "otherwise-unique document. Plan: the same codegen posexplode+"
    "element_at window pass as the shingle pipeline, a gram-hash "
    "count aggregate, and a join of the gram stream back to the "
    "counts — both shuffles key on the 16-byte gram hash, never the "
    "text; per-doc tallies reuse one doc_id aggregate. A true "
    "suffix-array (arbitrary-length spans) trades this for a "
    "sort-based repartition; the fixed-window hash form is the "
    "shuffle-friendly standard at corpus scale.",
)
def q_dedup_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.selectExpr("doc_id", r"split(trim(text), '\\s+') AS tk")
    ex = base.selectExpr(
        "doc_id", "size(tk) AS n", "tk", "posexplode(tk) AS (pos, tok)"
    )
    gram_terms = ", ".join(
        ["tok"] + [f"element_at(tk, pos + {k})" for k in range(2, SPAN_N + 1)]
    )
    grams = ex.filter(f"pos <= n - {SPAN_N}").selectExpr(
        "doc_id", f"md5(concat_ws(' ', {gram_terms})) AS g"
    )
    # the gram stream feeds both the count aggregate and the join probe;
    # the count side broadcasts, so no shuffle exists for Spark to reuse
    # and the explode would run twice — materialize it once (measured
    # 1.56s -> 1.08s at sf0.1; a 100 TB run persists to storage instead)
    grams = grams.localCheckpoint(eager=True)
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    return (
        grams.join(counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("c") > 1, 1)).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans").cast("double") / F.col("n_spans"), 4).alias(
                "dup_ratio"
            ),
        )
    )


@register(
    "curation_strip_dup_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    occ AS (
      SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - {SPAN_N - 2}),
                      i -> struct_pack(pos := i, g := {_SPAN_GRAM_SQL}))) AS u
        FROM t WHERE len(toks) >= {SPAN_N}
      )
    ),
    stats AS (
      SELECT g, count(*) AS cnt, min(doc_id) AS dmin
      FROM occ GROUP BY g
    ),
    pmin AS (
      SELECT o.g, min(o.pos) AS pmin
      FROM occ o JOIN stats s USING (g)
      WHERE o.doc_id = s.dmin
      GROUP BY o.g
    ),
    cov AS (
      SELECT doc_id, list_sort(list(DISTINCT p)) AS cov FROM (
        SELECT o.doc_id, unnest(range(o.pos, o.pos + {SPAN_N})) AS p
        FROM occ o JOIN stats s USING (g) JOIN pmin m USING (g)
        WHERE s.cnt > 1
          AND NOT (o.doc_id = s.dmin AND o.pos = m.pmin)
      ) GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(cov.cov), 0) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(
             CASE WHEN cov.cov IS NULL THEN toks ELSE
               list_transform(
                 list_filter(
                   list_transform(range(1, len(toks) + 1),
                                  i -> struct_pack(i := i, tok := toks[i])),
                   s -> NOT list_contains(cov.cov, s.i)),
                 s -> s.tok)
             END, ' '), '')) AS clean_md5
    FROM t LEFT JOIN cov USING (doc_id)
    """,
    doc=f"ExactSubstr dedup APPLIED, not just detected (Lee et al. "
    "'Deduplicating Training Data Makes Language Models Better', "
    f"{SPAN_N}-token granularity): every duplicated window keeps ONE "
    "canonical occurrence (the corpus-min (doc_id, pos)) and every "
    "other occurrence's token positions are stripped from their "
    "documents, which are then reassembled without the copied spans — "
    "the curation step that follows dedup_duplicate_ngram_spans's "
    "detection. Plan: one gram stream (posexplode + element_at, "
    "codegen), ONE shuffle on the 16-byte gram hash for the "
    "(count, min-occurrence-key) aggregate — partial aggregation "
    "combines map-side, so a stopword-hot gram never builds a sorted "
    "per-gram partition the way a row_number canonicalizer would — "
    "then the gram stream joins the stats back on the same key, "
    "covered positions collapse to one doc-bounded sorted array per "
    "doc, and the rewrite is a map-side higher-order filter over the "
    "original token array (no token-stream shuffle: only gram hashes "
    "and position integers ever ride an exchange). The canonical key "
    "is the lexicographic min over (doc_id, pos), decomposed into two "
    "hash-aggregable bigint mins on the gram key — collision-free at "
    "any document length, no sort aggregate.",
)
def q_curation_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    base = d.selectExpr("doc_id", r"split(trim(text), '\\s+') AS tk")
    ex = base.selectExpr("doc_id", "size(tk) AS n", "tk", "posexplode(tk) AS (pos0, tok)")
    gram_terms = ", ".join(
        ["tok"] + [f"element_at(tk, pos0 + {k})" for k in range(2, SPAN_N + 1)]
    )
    occ = ex.filter(f"pos0 <= n - {SPAN_N}").selectExpr(
        "doc_id", "pos0 + 1 AS pos", f"md5(concat_ws(' ', {gram_terms})) AS g"
    )
    # the gram stream feeds both the stats aggregate and the join probe
    # (same rationale/measurement as dedup_duplicate_ngram_spans)
    occ = occ.localCheckpoint(eager=True)
    # canonical occurrence = lexicographic min over (doc_id, pos),
    # decomposed into TWO plain bigint min aggregates on the same gram
    # key (min doc_id per gram, then min pos within that doc): a
    # struct-min would be collision-free too but Spark plans struct
    # aggregation buffers as SortAggregate (sorting every gram
    # partition), and the former doc_id*100000+pos pack silently
    # collided past 100k-token documents. Both aggregates stay
    # HashAggregate and every join rides the one gram-hash key.
    stats = occ.groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("doc_id").alias("dmin"),
    )
    joined = occ.join(stats, "g")
    pmin = (
        joined.filter(F.col("doc_id") == F.col("dmin"))
        .groupBy("g")
        .agg(F.min("pos").alias("pmin"))
    )
    removable = joined.join(pmin, "g").filter(
        (F.col("cnt") > 1)
        & ~((F.col("doc_id") == F.col("dmin")) & (F.col("pos") == F.col("pmin")))
    )
    cov = (
        removable.select(
            "doc_id", F.explode(F.expr(f"sequence(pos, pos + {SPAN_N - 1})")).alias("p")
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("p")).alias("cov"))
    )
    return base.join(cov, "doc_id", "left").selectExpr(
        "doc_id",
        "CAST(size(tk) AS BIGINT) AS n_tokens",
        "CAST(coalesce(size(cov), 0) AS BIGINT) AS n_removed",
        "md5(concat_ws(' ', CASE WHEN cov IS NULL THEN tk ELSE "
        "filter(tk, (x, i) -> NOT array_contains(cov, i + 1)) END)) AS clean_md5",
    )


@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, source, unnest({_SHINGLES_SQL}) AS s
      FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_sub, b.doc_id AS doc_super, count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.s = b.s AND a.source = b.source AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_sub, c.doc_super,
           round(CAST(c.n_common AS DOUBLE) / sa.nsh, 4) AS containment
    FROM common c JOIN sizes sa ON sa.doc_id = c.doc_sub
    ORDER BY containment DESC, doc_sub ASC, doc_super ASC
    LIMIT 50
    """,
    doc="X13: asymmetric n-gram CONTAINMENT within blocks — "
    "|sh(A) n sh(B)| / |sh(A)|, the Broder containment coefficient. "
    "Jaccard misses the case a curation pipeline most wants caught: a "
    "short document wholly quoted inside a much longer one scores low "
    "Jaccard (union is dominated by the long doc) but containment ~1. "
    "Same scalable shape as dedup_ngram_jaccard (shingle equi-join on "
    "(shingle, block), count per ordered pair, divide by the CONTAINED "
    "side's shingle count); direction matters, so pairs materialize "
    "both ways and the divisor is per-direction. Zero-overlap pairs "
    "never materialize. At 100 TB this runs as the verifier behind an "
    "LSH candidate stage exactly like the Jaccard form.",
)
def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    sh = exploded_shingles(d, "source").dropDuplicates(["doc_id", "s"])
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_sub"), F.col("b.doc_id").alias("doc_super"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_sub"), F.col("nsh").alias("nsh_sub"))
    return (
        common.join(sa, "doc_sub")
        .select(
            "doc_sub",
            "doc_super",
            F.round(F.col("n_common").cast("double") / F.col("nsh_sub"), 4).alias(
                "containment"
            ),
        )
        .orderBy(
            F.col("containment").desc(), F.col("doc_sub").asc(), F.col("doc_super").asc()
        )
        .limit(50)
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_SIGS_CTE},
    bands1 AS (
      SELECT doc_id, unnest(list_transform(range(1, {NUM_HASHES + 1}),
             i -> CAST(i AS VARCHAR) || '|' || sig[i])) AS band_key
      FROM sigs
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands1 x JOIN bands1 y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    deg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT a AS doc_id FROM pairs UNION ALL SELECT b FROM pairs
      ) GROUP BY doc_id
    ),
    tri AS (
      SELECT p1.a AS a, p1.b AS b, p2.b AS c
      FROM pairs p1
      JOIN pairs p2 ON p2.a = p1.b
      JOIN pairs p3 ON p3.a = p1.a AND p3.b = p2.b
    ),
    tcount AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY doc_id
    )
    SELECT d.doc_id, d.degree,
           coalesce(t.n_triangles, 0) AS n_triangles,
           round(CAST(2 * coalesce(t.n_triangles, 0) AS DOUBLE)
                 / (d.degree * (d.degree - 1)), 4) AS clustering_coef
    FROM deg d LEFT JOIN tcount t USING (doc_id)
    WHERE d.degree >= 2
    """,
    doc="Triangle counting + local clustering coefficient over the "
    "document similarity graph (single-minhash collisions — a looser "
    "graph than the banded LSH edge list, dense enough to carry "
    "triangle structure). The graph-metrics complement to connected "
    "components: components say WHICH docs cluster, the clustering "
    "coefficient says how CLIQUE-LIKE each neighborhood is (template "
    "families score ~1, chains of coincidental collisions score ~0 — "
    "a ranking signal for which near-dup clusters to trust). Plan: "
    "node-iterator triangle enumeration as two edge self-equi-joins "
    "with every triangle counted exactly once via the a<b<c "
    "orientation; the edge list is materialized once and feeds the "
    "degree count plus all three join legs. At 100 TB the orientation "
    "switches from id-order to DEGREE order (count each triangle from "
    "its lowest-degree vertex) — the standard mitigation that bounds "
    "the hub-vertex join fan-out.",
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    bands = sigs.selectExpr("doc_id", "posexplode(sig) AS (i, v)").selectExpr(
        "doc_id", "concat(CAST(i + 1 AS STRING), '|', v) AS band_key"
    )
    pairs = (
        candidate_pairs(bands, cap=None)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .localCheckpoint(eager=True)  # feeds degree + all 3 triangle legs
    )
    deg = (
        pairs.select(F.col("a").alias("doc_id"))
        .unionByName(pairs.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    p1, p2, p3 = pairs.alias("p1"), pairs.alias("p2"), pairs.alias("p3")
    tri = p1.join(p2, F.col("p2.a") == F.col("p1.b")).join(
        p3,
        (F.col("p3.a") == F.col("p1.a")) & (F.col("p3.b") == F.col("p2.b")),
    ).select(
        F.col("p1.a").alias("ta"), F.col("p1.b").alias("tb"), F.col("p2.b").alias("tc")
    )
    tcount = (
        tri.select(F.col("ta").alias("doc_id"))
        .unionByName(tri.select(F.col("tb").alias("doc_id")))
        .unionByName(tri.select(F.col("tc").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(tcount, "doc_id", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "doc_id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.round(
                (F.lit(2) * F.coalesce(F.col("n_triangles"), F.lit(0))).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)),
                4,
            ).alias("clustering_coef"),
        )
    )


@register(
    "dedup_keep_best_representative",
    oracle=f"""{_CC_CTES},
    q AS (
      SELECT doc_id,
             least(1.0, len(toks) / 100.0)
               * (1.0 - CAST(len(list_filter(toks,
                      x -> x IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS DOUBLE)
                      / len(toks)) AS quality
      FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
    )
    SELECT component_id, keeper_doc_id,
           round(quality, 4) AS keeper_quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM (
      SELECT c.component_id, c.doc_id AS keeper_doc_id, q.quality, s.n_members,
             row_number() OVER (PARTITION BY c.component_id
                                ORDER BY q.quality DESC, c.doc_id ASC) AS rn
      FROM comp c
      JOIN q USING (doc_id)
      JOIN (SELECT component_id, count(*) AS n_members
            FROM comp GROUP BY component_id) s USING (component_id)
    ) WHERE rn = 1
    """,
    doc="Quality-aware cluster representative selection — the curation "
    "decision the min-id convention papers over: within each near-dup "
    "component (star-contraction over the LSH candidate graph), KEEP "
    "the highest-quality member, not the lowest id. Selection compares "
    "the RAW per-doc quality expression (single-division rational "
    "arithmetic, bit-identical across engines) with doc_id as the "
    "deterministic tiebreak; only the reported score is rounded. Plan: "
    "the clustering's O(log n) star rounds, one doc_id join against "
    "the map-side quality projection, and a per-component argmax "
    "window whose partitions are component-sized. This is the step "
    "that turns cluster labels into an actual curated corpus.",
)
def q_dedup_keep_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import STOPWORDS, _hits

    comp = star_components(_lsh_candidate_pairs(spark, sf_dir))
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("n_members"))
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    stop_ratio = _hits(F.col("toks"), STOPWORDS).cast("double") / F.size("toks")
    q = d.select(
        "doc_id",
        (F.least(F.lit(1.0), F.size("toks") / F.lit(100.0)) * (F.lit(1.0) - stop_ratio)).alias(
            "quality"
        ),
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        comp.join(q, "doc_id")
        .join(sizes, "component_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("keeper_doc_id"),
            F.round("quality", 4).alias("keeper_quality"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


@register(
    "dedup_jaccard_prefix_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ),
    eligible AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 5),
    sized AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 3),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh
      FROM eligible
    ),
    s2 AS (SELECT doc_id, sh, len(sh) AS L FROM sized),
    tok AS (SELECT doc_id, L, unnest(sh) AS s FROM s2),
    dfreq AS (SELECT s, count(*) AS df FROM tok GROUP BY s),
    ranked AS (
      SELECT t2.doc_id, t2.L, t2.s,
             row_number() OVER (PARTITION BY t2.doc_id
                                ORDER BY d.df ASC, t2.s ASC) AS rnk
      FROM tok t2 JOIN dfreq d USING (s)
    ),
    prefix AS (
      SELECT doc_id, L, s FROM ranked
      WHERE rnk <= L - (3*L + 4) // 5 + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b USING (s)
      WHERE a.doc_id < b.doc_id
        AND 5*b.L >= 3*a.L AND 5*a.L >= 3*b.L
    ),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c
      JOIN tok x ON x.doc_id = c.id_a
      JOIN tok y ON y.doc_id = c.id_b AND y.s = x.s
      GROUP BY c.id_a, c.id_b
    ),
    verified AS (
      SELECT i.id_a, i.id_b, i.inter, x.L AS la, y.L AS lb
      FROM inter i
      JOIN s2 x ON x.doc_id = i.id_a
      JOIN s2 y ON y.doc_id = i.id_b
    )
    SELECT id_a, id_b, inter,
           round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
    FROM verified
    WHERE 8*inter >= 3*(la + lb)
    ORDER BY id_a, id_b
    """,
    doc="EXACT all-pairs Jaccard >= 3/5 via prefix filtering (SSJoin/"
    "PPJoin family, Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07) "
    "— the scale answer when near-dup decisions must be exact, not "
    "probabilistic like MinHash banding. Word 5-shingles are ranked "
    "rarest-first by corpus document frequency; a doc with L shingles "
    "can share Jaccard >= t with another only if they collide inside "
    "each other's first L - ceil(t*L) + 1 rarest shingles, so ONLY "
    "that prefix enters the self-equi-join — the candidate space "
    "drops from 125k brute-force pairs to the verified pairs almost "
    "exactly, and the pruning sharpens as the feature space grows "
    "(rare shingles get rarer at 100 TB while stopword-like shingles "
    "never enter a prefix, which also kills the hot-key skew a plain "
    "shingle join suffers). Length co-pruning (5*Lb >= 3*La and vice "
    "versa) rides the same join. Every threshold decision is integer "
    "arithmetic (ceil(3L/5) = (3L+4) div 5; jaccard >= 3/5 iff "
    "8*inter >= 3*(la+lb)) so no float sits near a keep/drop boundary "
    "and the oracle agrees bit-for-bit. Plan: each document builds "
    "its DISTINCT shingle array per-row (transform over an index "
    "sequence + array_distinct, one codegen span) and explodes it "
    "once — per-doc dedup happens in memory before any exchange, so "
    "the (doc_id, s) dropDuplicates shuffle of the earlier "
    "carried-array form is gone entirely (head-to-head medians at "
    "sf0.1: 1.88 s vs 1.99 s carried-array vs 2.13 s window-lead; "
    "at 100 TB the dropped shuffle is the full shingle stream). The "
    "distinct shingle stream is then materialized once for its four "
    "consumers (sizes, df, prefix rank, verification). "
    "Verification counts common shingles for the candidate PAIRS "
    "only — O(candidates), never O(n^2). Docs under 5 tokens cannot "
    "form a shingle and fall out on both sides (exact-dedup "
    "territory, not near-dup).",
)
def q_dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    # Distinct 5-gram stream with ZERO pre-checkpoint shuffles: the
    # shingle array is built and deduped PER ROW (transform over an
    # index sequence + array_distinct, one codegen span — the tokenize
    # sits in its own select so split() runs once per doc), then
    # exploded once. The prior carried-array form paid a full
    # (doc_id, s) dropDuplicates shuffle for the same stream; per-row
    # dedup moves that work map-side, which is also the 100 TB answer
    # (the shuffle it drops is the entire corpus shingle stream). The
    # size guard matters: sequence(1, n-4) with n < 5 would DESCEND.
    sh = (
        d.selectExpr("doc_id", r"split(trim(text), '\\s+') AS tk")
        .filter("size(tk) >= 5")
        .selectExpr(
            "doc_id",
            "explode(array_distinct(transform(sequence(1, size(tk) - 4), "
            "i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1), "
            "element_at(tk, i + 2), element_at(tk, i + 3), "
            "element_at(tk, i + 4))))) AS s",
        )
        # the distinct shingle stream feeds FOUR consumers (sizes, df
        # counts, prefix ranking, pair verification) — materialize once
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("L"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    wrank = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
    prefix = (
        sh.join(sizes, "doc_id")
        .join(dfreq, "s")
        .withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("rnk") <= F.col("L") - F.expr("(3*L + 4) div 5") + 1)
        .select("doc_id", "L", "s")
    )
    a = prefix.select(F.col("doc_id").alias("id_a"), F.col("L").alias("la"), "s")
    b = prefix.select(F.col("doc_id").alias("id_b"), F.col("L").alias("lb"), "s")
    cand = (
        a.join(b, "s")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (5 * F.col("lb") >= 3 * F.col("la"))
            & (5 * F.col("la") >= 3 * F.col("lb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("id_a"), "s")
    y = sh.select(F.col("doc_id").alias("id_b"), "s")
    inter = (
        cand.join(x, "id_a")
        .join(y, ["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    la = sizes.select(F.col("doc_id").alias("id_a"), F.col("L").alias("la"))
    lb = sizes.select(F.col("doc_id").alias("id_b"), F.col("L").alias("lb"))
    verified = (
        inter.join(la, "id_a")
        .join(lb, "id_b")
        .filter(8 * F.col("inter") >= 3 * (F.col("la") + F.col("lb")))
    )
    return verified.select(
        "id_a",
        "id_b",
        "inter",
        F.round(
            F.col("inter") / (F.col("la") + F.col("lb") - F.col("inter")), 4
        ).alias("jaccard"),
    ).orderBy("id_a", "id_b")


# PageRank centrality over the near-dup similarity graph. All arithmetic
# is INTEGER (ranks in units of 1e-12): integer sums are associative so
# per-partition aggregation order cannot perturb the result, and `div`
# truncation is identical in Spark and DuckDB — the engine-parity
# analog of IEEE-double PageRank, accurate to ~1e-12 per operation.
PR_SCALE = 10**12
PR_ITERS = 5


def _pagerank_oracle() -> str:
    iters = []
    prev = "r0"
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
    r{k} AS (
      SELECT e.dst AS doc_id,
             CAST((SELECT base FROM consts)
                  + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
      FROM edges e
      JOIN {prev} r ON r.doc_id = e.src
      JOIN deg d ON d.doc_id = e.src
      GROUP BY e.dst
    )""")
        prev = f"r{k}"
    return f"""
    WITH {_SIGS_CTE},
    bands AS (SELECT doc_id, unnest({_BANDS_SQL}) AS band_key FROM sigs),
    pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT src AS doc_id, count(*) AS deg FROM edges GROUP BY src),
    consts AS (
      SELECT (15 * {PR_SCALE}::BIGINT) // (100 * count(*)) AS base,
             {PR_SCALE}::BIGINT // count(*) AS init
      FROM deg
    ),
    r0 AS (SELECT doc_id, (SELECT init FROM consts) AS r FROM deg),
    {','.join(iters)}
    SELECT doc_id, r AS rank_unit,
           round(CAST(r AS DOUBLE) / {PR_SCALE}, 8) AS rank
    FROM r{PR_ITERS}
    ORDER BY rank_unit DESC, doc_id ASC
    """


def pagerank_ranks(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Integer-unit PageRank kernel over a symmetric (src, dst) edge
    list: DataFrame[doc_id, r] with r in units of 1/PR_SCALE. Each
    round is ONE keyed exchange of (node, long) messages whose sum
    aggregate partially combines map-side — a hub with 10% of the
    edges contributes at most one partial row per input partition to
    the shuffle, never its raw in-degree (asserted under a planted hub
    in tests/test_skew_stress.py)."""
    deg = (
        edges.groupBy(F.col("src").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    consts = deg.agg(F.count(F.lit(1)).alias("n")).selectExpr(
        f"(15 * {PR_SCALE}L) div (100 * n) AS base",
        f"{PR_SCALE}L div n AS init",
    )
    ranks = (
        deg.select("doc_id")
        .crossJoin(F.broadcast(consts))
        .select("doc_id", F.col("init").alias("r"))
    )
    for _ in range(iters):
        contrib = ranks.join(deg, "doc_id").selectExpr(
            "doc_id", "r div deg AS contrib"
        )
        msgs = (
            edges.join(contrib, edges.src == contrib.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = msgs.crossJoin(F.broadcast(consts)).selectExpr(
            "doc_id", "base + (85 * s) div 100 AS r"
        )
    return ranks


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    doc="PageRank centrality on the MinHash-LSH similarity graph "
    "(damping 0.85, 5 synchronous iterations) — ranks the most-"
    "connected documents inside near-dup neighborhoods, the signal "
    "curation uses to pick a canonical representative by authority "
    "rather than min-id, and the third graph analytic next to "
    "connected components and triangle counting. Ranks live in "
    "integer units of 1e-12 — int64-safe at ANY node count (audited "
    "round 11): total rank mass is ~PR_SCALE=1e12 regardless of graph "
    "size (it is a distribution, not a row sum), so the widest "
    "intermediate 85*s is <= 8.5e13 even with every unit of mass "
    "concentrated on one node (planted star-hub worst case matches an "
    "exact Python twin in tests/test_dedup.py). "
    "Integer addition is associative, so "
    "Spark's partial aggregation order and DuckDB's single-threaded "
    "fold produce the SAME value bit-for-bit, and `div` truncation "
    "(error ~1e-12/op) replaces the float drift that makes naive "
    "cross-engine PageRank unhashable. Plan: edges localCheckpoint "
    "once (the LSH banding is never re-derived), degrees lazily "
    "checkpoint on first use, the 2-row-wide rank frontier chains "
    "5 shuffle rounds keyed on dst inside ONE job, and the two "
    "global constants ride a broadcast 1-row join. Symmetric edges "
    "mean no dangling mass. At 100 TB each round is one keyed "
    "exchange of (node, long) pairs — the Pregel message pattern — "
    "with durable checkpoints replacing localCheckpoint.",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = pagerank_ranks(_symmetric_edges(_lsh_candidate_pairs(spark, sf_dir)))
    return ranks.selectExpr(
        "doc_id",
        "r AS rank_unit",
        f"round(CAST(r AS DOUBLE) / {PR_SCALE}, 8) AS rank",
    ).orderBy(F.col("rank_unit").desc(), F.col("doc_id").asc())


LPA_ITERS = 4


def _lpa_ctes() -> str:
    """Shared oracle prefix: LSH pair graph + the unrolled synchronous
    LPA rounds, ending with the final label table l{LPA_ITERS} — reused
    by the LPA entry and the modularity scorer built on its labels."""
    cte = []
    prev = "l0"
    for k in range(1, LPA_ITERS + 1):
        cte.append(f"""
    c{k} AS (
      SELECT e.dst AS doc_id, l.label, count(*) AS cnt
      FROM edges e JOIN {prev} l ON l.doc_id = e.src
      GROUP BY e.dst, l.label
    ),
    l{k} AS (
      SELECT doc_id, label FROM (
        SELECT doc_id, label,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM c{k}
      ) WHERE rn = 1
    )""")
        prev = f"l{k}"
    prefix = f"""
    WITH {_SIGS_CTE},
    bands AS (SELECT doc_id, unnest({_BANDS_SQL}) AS band_key FROM sigs),
    pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS doc_id, src AS label FROM edges),
    {','.join(cte)}"""
    return prefix


def _lpa_oracle() -> str:
    return _lpa_ctes() + f""",
    sized AS (
      SELECT label AS community, count(*) AS n_members
      FROM l{LPA_ITERS} GROUP BY label
    )
    SELECT l.doc_id, l.label AS community, s.n_members
    FROM l{LPA_ITERS} l JOIN sized s ON s.community = l.label
    ORDER BY l.doc_id
    """


def propagate_labels(edges: DataFrame, iters: int = LPA_ITERS) -> DataFrame:
    """Synchronous label-propagation kernel over a symmetric (src, dst)
    edge list: DataFrame[doc_id, label] after ``iters`` deterministic
    rounds (most-frequent neighbor label, ties to min label). Each
    round is one (dst, label) count aggregate — partially combined
    map-side, so a planted hub's fanout shuffles as per-partition
    partials, not raw messages — plus one per-node max_by argmax
    (r16: replaces the row_number window — max_by over the ordered
    struct (cnt, -label) is the same deterministic argmax, computed as
    a two-phase hash aggregate whose map-side partials reduce each
    partition to one candidate per node before the exchange, where the
    window form shipped every (node, label) count and then sorted it;
    ties inside the struct imply an equal label, so the pick is exact;
    asserted in tests/test_skew_stress.py)."""
    labels = edges.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("label")
    )
    for _ in range(iters):
        counts = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = counts.groupBy("doc_id").agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
            ).alias("label")
        )
    return labels


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(),
    doc="Community detection via synchronous label propagation (4 "
    "rounds) on the LSH similarity graph — the finer-grained sibling "
    "of connected components: CC merges everything reachable, LPA "
    "splits a component into densely-linked sub-communities, which "
    "for near-dup curation separates 'same template family' from "
    "'same transitive chain'. Classic async LPA is visit-order-"
    "dependent and unreproducible; this is the deterministic "
    "synchronous form — every round each node adopts the most "
    "frequent label among its neighbors with ties broken by min "
    "label, so the (count desc, label asc) argmax is exact integer "
    "arithmetic and the unrolled SQL twin hash-matches. Plan per "
    "round: one (dst, label) count aggregate + one per-node "
    "max_by argmax, both keyed on the node — the same Pregel "
    "exchange shape as PageRank, fixed rounds in one job, edges "
    "checkpointed once. Labels are node ids (longs); nothing "
    "unbounded accumulates per key at any scale.",
)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = propagate_labels(_symmetric_edges(_lsh_candidate_pairs(spark, sf_dir)))
    sized = labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        labels.select("doc_id", F.col("label").alias("community"))
        .join(sized, "community")
        .select("doc_id", "community", "n_members")
        .orderBy("doc_id")
    )


@register(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH {_SIGS_CTE},
    bands AS (
      SELECT doc_id, unnest({_BANDS_SQL}) AS band_key FROM sigs
    ),
    {_bands_sized_sql()},
    new_b AS (SELECT * FROM bands_sized WHERE doc_id % 10 = 0),
    idx_b AS (SELECT * FROM bands_sized WHERE doc_id % 10 <> 0),
    hits AS (
      SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS index_doc
      FROM new_b n JOIN idx_b i ON n.band_key = i.band_key
    )
    SELECT new_doc,
           CAST(count(*) AS BIGINT) AS n_index_matches,
           min(index_doc) AS first_match
    FROM hits GROUP BY new_doc
    """,
    doc="INCREMENTAL near-dup gate — the production ingest shape "
    "dedup_minhash_lsh_pairs' batch self-join becomes once a corpus "
    "exists: the arriving batch (doc_id % 10 = 0 here stands in for "
    "'today's crawl') probes the EXISTING corpus index by band key, "
    "asymmetrically — no new×new pairs, no index×index pairs, just "
    "new-vs-index. The asymmetry is the scale win: the index side's "
    "band table is precomputed state (in production a bucketed table "
    "keyed on band_key, appended once per batch), so each ingest "
    "shuffles only its own batch and the probe is a keyed equi-join "
    "into co-located buckets. Output is the collision report per new "
    "doc (match count + canonical first match) that the ingest "
    "pipeline uses to drop or route duplicates. The hot-band cap is "
    "applied to the band table BEFORE the new/index split (a template "
    "bucket is degenerate for both sides), so a boilerplate band with "
    "B index members and b new members cannot expand to B*b hits.",
)
def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    bands = capped_bands(
        sigs.selectExpr("doc_id", f"explode({_bands_expr('sig')}) AS band_key")
    )
    new_b = bands.where(F.col("doc_id") % 10 == 0)
    idx_b = bands.where(F.col("doc_id") % 10 != 0)
    hits = (
        new_b.alias("n")
        .join(idx_b.alias("i"), F.col("n.band_key") == F.col("i.band_key"))
        .select(
            F.col("n.doc_id").alias("new_doc"), F.col("i.doc_id").alias("index_doc")
        )
        .distinct()
    )
    return hits.groupBy("new_doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_index_matches"),
        F.min("index_doc").alias("first_match"),
    )


@register(
    "dedup_url_canonical",
    oracle="""
    WITH u0 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://'
          || CASE WHEN doc_id % 3 = 0 THEN 'Docs.Example.COM'
                  ELSE 'docs.example.com' END
          || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
          || '/item-' || CAST(doc_id // 5 AS VARCHAR)
          || CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END
          || '?'
          || CASE WHEN doc_id % 2 = 0
                  THEN 'v=' || CAST((doc_id // 5) % 3 AS VARCHAR) || '&page=1'
                  ELSE 'page=1&v=' || CAST((doc_id // 5) % 3 AS VARCHAR) END
          || CASE WHEN doc_id % 2 = 0 THEN '&utm_source=feed' ELSE '' END
          || CASE WHEN doc_id % 3 = 0 THEN '&utm_campaign=launch' ELSE '' END
          || CASE WHEN doc_id % 7 = 0 THEN '#sec-2' ELSE '' END AS url
      FROM documents
    ),
    u1 AS (SELECT doc_id, split_part(url, '#', 1) AS u FROM u0),
    parts AS (
      SELECT doc_id,
             lower(regexp_extract(u, '^([^:]+)://', 1)) AS scheme,
             lower(regexp_extract(u, '^[^:]+://([^/:?#]+)', 1)) AS host,
             regexp_replace(
               regexp_extract(u, '^[^:]+://[^/?#]+([^?#]*)', 1),
               '/+$', '') AS path,
             array_to_string(
               list_sort(list_filter(string_split(split_part(u, '?', 2), '&'),
                                     p -> NOT starts_with(p, 'utm_'))),
               '&') AS params
      FROM u1
    )
    SELECT scheme || '://' || host || path
        || CASE WHEN params = '' THEN '' ELSE '?' || params END
             AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_dupes,
           min(doc_id) AS keep_doc,
           max(doc_id) AS last_doc
    FROM parts
    GROUP BY canonical_url
    """,
    doc="Canonical-URL dedup — the web-crawl curation staple the "
    "MinHash/SimHash lanes sit downstream of: the same page arrives "
    "under scheme/host case variants, an explicit default port, a "
    "trailing slash, shuffled query-parameter order, utm_* tracking "
    "junk, and fragments, and must collapse to ONE canonical key "
    "before any content-level dedup runs. The messy URL is derived "
    "deterministically from doc_id (the corpus has no URL column) "
    "with every variant class planted — groups of 5 consecutive "
    "doc_ids share a true page, so the canonicalizer's output is "
    "fully value-checked: lowercase scheme+host, drop :443, strip "
    "trailing slashes and fragments, drop utm_* params, bytewise-"
    "sort the survivors. 100 TB shape: canonicalization is pure "
    "map-side string work inside one codegen span (regexp_extract + "
    "higher-order filter/sort on the split param array — no UDF, no "
    "explode), and the dedup itself is ONE hash aggregate keyed on "
    "the canonical string — the same partial-agg + single-shuffle "
    "plan as dedup_exact, with the hot-key bound being the true "
    "duplicate multiplicity of a page, exactly what the aggregate "
    "must count anyway. Ref: crawl-pipeline practice (e.g. the "
    "URL-normalization pass every CommonCrawl derivative runs); no "
    "reference analog.",
)
def q_dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u0 = d.selectExpr(
        "doc_id",
        """
        concat(
          CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END, '://',
          CASE WHEN doc_id % 3 = 0 THEN 'Docs.Example.COM'
               ELSE 'docs.example.com' END,
          CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
          '/item-', CAST(doc_id DIV 5 AS STRING),
          CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END,
          '?',
          CASE WHEN doc_id % 2 = 0
               THEN concat('v=', CAST((doc_id DIV 5) % 3 AS STRING), '&page=1')
               ELSE concat('page=1&v=', CAST((doc_id DIV 5) % 3 AS STRING)) END,
          CASE WHEN doc_id % 2 = 0 THEN '&utm_source=feed' ELSE '' END,
          CASE WHEN doc_id % 3 = 0 THEN '&utm_campaign=launch' ELSE '' END,
          CASE WHEN doc_id % 7 = 0 THEN '#sec-2' ELSE '' END
        ) AS url
        """,
    )
    parts = u0.selectExpr("doc_id", "split_part(url, '#', 1) AS u").selectExpr(
        "doc_id",
        "lower(regexp_extract(u, '^([^:]+)://', 1)) AS scheme",
        "lower(regexp_extract(u, '^[^:]+://([^/:?#]+)', 1)) AS host",
        r"regexp_replace(regexp_extract(u, '^[^:]+://[^/?#]+([^?#]*)', 1),"
        r" '/+$', '') AS path",
        "array_join(array_sort(filter(split(split_part(u, '?', 2), '&'),"
        " p -> NOT startswith(p, 'utm_'))), '&') AS params",
    )
    return (
        parts.selectExpr(
            "doc_id",
            "concat(scheme, '://', host, path,"
            " CASE WHEN params = '' THEN '' ELSE concat('?', params) END)"
            " AS canonical_url",
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dupes"),
            F.min("doc_id").alias("keep_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ------------------------------------------------------------- round 9
KCORE_K = 2
KCORE_ROUNDS = 4


def _kcore_oracle(n_rounds: int) -> str:
    """DuckDB twin of ``n_rounds`` synchronous peel rounds, unrolled as
    MATERIALIZED CTEs (inlining would exponentiate the round tree)."""
    rounds = []
    prev_e = "edges"
    for t in range(1, n_rounds + 1):
        rounds.append(f"""
    d{t} AS MATERIALIZED (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
             FROM {prev_e} GROUP BY src),
    k{t} AS MATERIALIZED (SELECT doc_id FROM d{t} WHERE deg >= {KCORE_K}),
    e{t} AS MATERIALIZED (
      SELECT e.src, e.dst FROM {prev_e} e
      JOIN k{t} a ON a.doc_id = e.src
      JOIN k{t} b ON b.doc_id = e.dst
    )""")
        prev_e = f"e{t}"
    return f"""
    WITH {_SIGS_CTE},
    bands AS (SELECT doc_id, unnest({_BANDS_SQL}) AS band_key FROM sigs),
    pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    {','.join(rounds)}
    SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
    FROM e{n_rounds}
    GROUP BY src
    ORDER BY core_deg DESC, doc_id ASC
    """


@register(
    "graph_kcore_peel",
    oracle=_kcore_oracle(KCORE_ROUNDS),
    doc=f"k-core decomposition ({KCORE_ROUNDS} synchronous peeling "
    f"rounds at k={KCORE_K}) on the MinHash-LSH similarity graph — the "
    "fourth graph analytic next to components / PageRank / LPA: "
    "repeatedly delete nodes whose CURRENT degree is below k, keeping "
    "the dense near-dup cores and shedding the weakly-attached "
    "periphery (in curation: core members are template families to "
    "collapse, peeled nodes are borderline pairs to keep). Defined as "
    "BOUNDED-round peeling — the same determinism contract as "
    "graph_minplus_distance's 3-round Bellman-Ford — so the DuckDB "
    "oracle unrolls the identical rounds as CTEs; integer degrees "
    "make every keep/peel decision exact on both engines. Spark "
    "shape per round: one keyed degree aggregate (map-side partial "
    "combine — a hub ships one partial per partition, never raw "
    "fanout) and two left-semi joins keyed on the endpoints, with "
    "lazy localCheckpoints cutting the 4-round lineage; edges are "
    "checkpointed ONCE via the shared _symmetric_edges base. At "
    "cluster scale the fixpoint variant loops the same round body "
    "until a count() of peeled nodes hits zero, checkpointing every "
    "few rounds — the bounded form here is the certified inner body.",
)
def q_graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _core_deg(kcore_peel(_symmetric_edges(_lsh_candidate_pairs(spark, sf_dir))))


def _core_deg(e: DataFrame) -> DataFrame:
    """Per-node degree inside the peeled core, densest first."""
    return (
        e.groupBy(F.col("src").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
        .orderBy(F.col("core_deg").desc(), F.col("doc_id").asc())
    )


def _peel_round(e: DataFrame, k: int) -> DataFrame:
    """One synchronous peel: drop every edge with an endpoint whose
    current degree is below k — see the graph_kcore_peel catalog doc
    for the scale shape."""
    keep = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= k)
        .select(F.col("src").alias("keep_id"))
    )
    return e.join(keep, e["src"] == keep["keep_id"], "left_semi").join(
        keep, e["dst"] == keep["keep_id"], "left_semi"
    )


def kcore_peel(
    edges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """The bounded peeling loop on a symmetric (src, dst) edge list,
    each round's lineage cut by a lazy localCheckpoint."""
    e = edges
    for _ in range(rounds):
        e = _peel_round(e, k).localCheckpoint(eager=False)
    return e


KCORE_FIXPOINT_MAX_ROUNDS = 64
# oracle unroll depth: rounds past convergence are no-ops at the
# fixpoint, so the unrolled oracle equals the true k-core whenever the
# graph converges within this many rounds —
# tests/test_dedup.py asserts convergence well inside it at
# sf0.001, and fixpoint() raises rather than return a non-fixpoint if
# the live graph ever needs more
KCORE_FIXPOINT_ORACLE_ROUNDS = 8


def kcore_fixpoint(
    edges: DataFrame, k: int = KCORE_K, max_rounds: int = KCORE_FIXPOINT_MAX_ROUNDS
) -> tuple[DataFrame, int]:
    """Run-to-convergence k-core on a symmetric edge list: the peel
    round under ``fixpoint`` with an edge-count probe. The probe is
    sound because peeling only ever DELETES edges — an unchanged count
    means no node fell below k, i.e. the fixpoint. Raises once more
    rounds change than the catalog twin unrolls. Returns (converged
    edges, rounds executed)."""
    return fixpoint(
        edges,
        lambda e: _peel_round(e, k),
        DataFrame.count,
        max_rounds,
        "k-core",
        KCORE_FIXPOINT_ORACLE_ROUNDS,
    )


@register(
    "graph_kcore_fixpoint",
    oracle=_kcore_oracle(KCORE_FIXPOINT_ORACLE_ROUNDS),
    doc=f"The RUN-TO-CONVERGENCE twin of graph_kcore_peel (k={KCORE_K}): "
    "a user asking for 'the k-core' gets the true fixpoint, not a "
    "bounded-round approximation — the loop peels until an edge-count "
    "probe stops moving (sound because peeling only deletes edges; an "
    "unchanged count means no node fell below k), raising rather than "
    "returning silently if the round cap is ever hit. The DuckDB twin "
    f"unrolls {KCORE_FIXPOINT_ORACLE_ROUNDS} rounds as CTEs: rounds "
    "past convergence are no-ops at the fixpoint, so the unrolled form "
    "EQUALS the true k-core whenever convergence lands inside the "
    "unroll depth — asserted by pytest at sf0.001 with margin, the "
    "same empirical-depth trick dedup_cluster_components' recursive "
    "closure avoids needing. Per-round Spark shape is the certified "
    "peel body (keyed degree aggregate with map-side combine + two "
    "left-semi endpoint joins), one job per round with the lazy "
    "localCheckpoint materialized by the probe itself; at 100 TB the "
    "probe stays O(1) driver-side (a count, never collected data) and "
    "localCheckpoint swaps for durable checkpoints.",
)
def q_graph_kcore_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, _ = kcore_fixpoint(_symmetric_edges(_lsh_candidate_pairs(spark, sf_dir)))
    return _core_deg(e)


LP_NEIGHBOR_CAP = 32


def _link_prediction_oracle() -> str:
    return f"""
    WITH {_SIGS_CTE},
    bands AS (SELECT doc_id, unnest({_BANDS_SQL}) AS band_key FROM sigs),
    pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    capped_src AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
        FROM edges
      ) WHERE rn <= {LP_NEIGHBOR_CAP}
    ),
    capped AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY dst ORDER BY src) AS rn
        FROM capped_src
      ) WHERE rn <= {LP_NEIGHBOR_CAP}
    ),
    deg AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS deg
            FROM capped GROUP BY src),
    common AS (
      SELECT a.src AS u, b.src AS v, CAST(count(*) AS BIGINT) AS c
      FROM capped a JOIN capped b
        ON a.dst = b.dst AND a.src < b.src
      GROUP BY a.src, b.src
    ),
    cand AS (
      SELECT c.u, c.v, c.c
      FROM common c
      WHERE NOT EXISTS (
        SELECT 1 FROM pairs p WHERE p.doc_a = c.u AND p.doc_b = c.v
      )
    )
    SELECT cand.u AS doc_a, cand.v AS doc_b, cand.c AS n_common,
           du.deg + dv.deg - cand.c AS n_union,
           round(CAST(cand.c AS DOUBLE)
                 / CAST(du.deg + dv.deg - cand.c AS DOUBLE), 6) AS jaccard
    FROM cand
    JOIN deg du ON du.doc_id = cand.u
    JOIN deg dv ON dv.doc_id = cand.v
    ORDER BY jaccard DESC, doc_a ASC, doc_b ASC
    LIMIT 50
    """


@register(
    "graph_link_prediction_jaccard",
    oracle=_link_prediction_oracle(),
    doc="Link prediction by neighborhood Jaccard on the MinHash-LSH "
    "similarity graph — the graph-ML scoring class next to the "
    "structural analytics (components/PageRank/LPA/k-core/triangles): "
    "for NON-adjacent pairs reachable in two hops, score "
    "|N(u) ∩ N(v)| / |N(u) ∪ N(v)| and rank the top-50 predicted "
    "edges (in curation: near-dup pairs the banding missed but the "
    "neighborhood structure implies — candidates for a verification "
    "pass). N(·) here is the DOUBLY-CAPPED adjacency list: per-src cap "
    f"to the {LP_NEIGHBOR_CAP} smallest-id neighbors (bounds each "
    "node's list), then per-dst cap to the "
    f"{LP_NEIGHBOR_CAP} smallest-id holders of each neighbor (bounds "
    "the shared-neighbor join fanout to <= cap^2 rows per neighbor "
    "node — hub safety by construction, the same discipline as the "
    "LSH hot-band cap; production systems cap by edge weight, same "
    "shape). Both caps are deterministic and applied identically in "
    "both engines, so parity holds exactly, and n_common is the TRUE "
    "intersection |N(u) ∩ N(v)| of the capped lists: the wedge join "
    "matches on the shared neighbor (a.dst = b.dst, a.src < b.src), "
    "so both endpoints' lists are intersected (round-9 advice fix — "
    "the old a.dst = b.src form counted an asymmetric wedge). "
    "Cross-engine exactness: common/union counts are integers off "
    "keyed aggregates, adjacency exclusion is an anti join against "
    "the (doc_a < doc_b) pair list, and the single double division "
    "rounds at the projection with (doc_a, doc_b) tiebreaks on the "
    "LIMIT. Scale: one shared-neighbor equi-join on the capped lists "
    "+ two broadcast-able degree joins + TakeOrdered. Ref: no "
    "reference analog; common-neighbors/Jaccard link prediction per "
    "the classic Liben-Nowell & Kleinberg formulation.",
)
def q_graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _lsh_candidate_pairs(spark, sf_dir).localCheckpoint(eager=False)
    return link_prediction_scores(pairs, _symmetric_edges(pairs))


def link_prediction_scores(pairs: DataFrame, edges: DataFrame) -> DataFrame:
    """Capped-neighborhood Jaccard scoring on a (doc_a < doc_b) pair
    list and its symmetric edge list — see the catalog docstring for
    the double-cap scale argument."""
    w_src = Window.partitionBy("src").orderBy("dst")
    w_dst = Window.partitionBy("dst").orderBy("src")
    capped = (
        edges.withColumn("rn", F.row_number().over(w_src))
        .where(F.col("rn") <= LP_NEIGHBOR_CAP)
        .select("src", "dst")
        .withColumn("rn", F.row_number().over(w_dst))
        .where(F.col("rn") <= LP_NEIGHBOR_CAP)
        .select("src", "dst")
        .localCheckpoint(eager=False)
    )
    deg = capped.groupBy(F.col("src").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    a, b = capped.alias("a"), capped.alias("b")
    common = (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("u"), F.col("b.src").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cand = common.join(
        pairs,
        (common["u"] == pairs["doc_a"]) & (common["v"] == pairs["doc_b"]),
        "left_anti",
    )
    du = deg.select(F.col("doc_id").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("doc_id").alias("v"), F.col("deg").alias("deg_v"))
    scored = (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            F.col("c").alias("n_common"),
            (F.col("deg_u") + F.col("deg_v") - F.col("c")).alias("n_union"),
            F.round(
                F.col("c").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("c")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    ).limit(50)


# --------------------------------------------------- exact substring dedup
# Round-12 flagship: minimal-length EXACT substring dedup across documents
# — the public "Deduplicating Training Data Makes Language Models Better"
# (Lee et al., 2022) ExactSubstr operation, re-expressed Spark-first. The
# paper builds one giant suffix array over the corpus; on Spark the same
# duplicated-span set falls out of a k-gram inverted grouping: every
# maximal duplicated substring of length >= SUBSTR_GRAM_LEN appears as a
# RUN of consecutive duplicated k-gram start positions, so
#   grams -> group-by-gram (keep grams in >= 2 distinct docs)
#         -> per-doc island merge of the duplicated starts
# recovers exactly the maximal spans with no all-pairs comparison and no
# driver-side state.
SUBSTR_GRAM_LEN = 30


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH g AS (
      SELECT d.doc_id, CAST(t.i AS BIGINT) AS pos,
             substr(d.text, CAST(t.i AS INT), {SUBSTR_GRAM_LEN}) AS gram
      FROM documents d
      CROSS JOIN LATERAL (
        SELECT unnest(range(1, length(d.text) - {SUBSTR_GRAM_LEN - 2})) AS i
      ) t
    ),
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    p AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos = lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 1
                  THEN 0 ELSE 1 END AS brk
      FROM p
    ),
    grp AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl_id
      FROM isl
    )
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) - min(pos) + {SUBSTR_GRAM_LEN} AS BIGINT) AS span_len
    FROM grp GROUP BY doc_id, isl_id
    """,
    doc="LLM-pipeline: exact substring-level dedup (Lee et al. 2022 "
    "ExactSubstr) — emit every maximal span of length >= 30 chars that "
    "occurs verbatim in >= 2 distinct documents, as (doc_id, span_start, "
    "span_len). Plan: char-gram explode -> gram grouping with partial "
    "map-side aggregation (never all-pairs; a boilerplate-hot gram is "
    "one skewed reduce key, handled by AQE skew split) -> left-semi "
    "rejoin (the dup-gram set broadcasts while it fits — the measured "
    "plan at test SF — and demotes to a shuffle semi-join on the gram "
    "key beyond that) -> per-doc window island merge, where both "
    "windows and the final span aggregate share ONE doc_id exchange. "
    "100 TB: the shuffle carries (gram, doc_id, pos) where gram "
    "is 30 chars; swap the string for a 2-seed xxhash64 pair to cut the "
    "key to 16 bytes with ~2^-128 collision odds — kept as the exact "
    "string here so the DuckDB twin is bit-exact. State is O(duplicated "
    "positions), driver state zero.",
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallel loader: the 30x gram explode + substring kernel sits
    # directly on the scan, and the bench parquet is single-row-group —
    # adopted per the interleaved A/B discipline (tools/ab_scan.py, last
    # present at commit 8b08e99;
    # round 12: plain 8.07 s -> parallel 1.18 s at sf0.1, ratio 0.146)
    docs = load_table_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    return substring_dup_spans(docs, SUBSTR_GRAM_LEN)


def substring_dup_spans(docs: DataFrame, gram_len: int) -> DataFrame:
    """Maximal cross-document duplicated spans of length >= gram_len.

    The island-merge identity: start position s of a document is
    'duplicated' iff text[s : s+gram_len] occurs in another document;
    a maximal duplicated substring of length m >= gram_len contributes
    the consecutive run s0, s0+1, ..., s0+(m-gram_len) of duplicated
    starts, so merging adjacent runs and emitting (min, max-min+gram_len)
    reconstructs (start, length) of every maximal span exactly."""
    g = (
        docs.where(F.length("text") >= gram_len)
        .select(
            "doc_id",
            # sequence() with start > stop counts DOWN in Spark, so the
            # length guard above is load-bearing, not cosmetic
            F.explode(
                F.sequence(F.lit(1), F.length("text") - (gram_len - 1))
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.expr(f"substring(text, pos, {gram_len})").alias("gram"),
        )
    )
    dup = (
        g.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gram")
    )
    p = g.join(dup, "gram", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        p.withColumn(
            "brk",
            F.when(F.col("pos") == F.lag("pos").over(w) + 1, F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .withColumn("isl_id", F.sum("brk").over(w))
        .groupBy("doc_id", "isl_id")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") - F.min("pos") + gram_len).cast("bigint").alias("span_len"),
        )
        .select("doc_id", "span_start", "span_len")
    )
    return spans


# --------------------------------------------------- winnowing (MOSS)
# Schleimer, Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for
# Document Fingerprinting" (the MOSS algorithm). Public method; no
# reference analog.
WINNOW_K = 4  # tokens per gram
WINNOW_W = 5  # gram-hash window; density bound ~2/(W+1)
WINNOW_MIN_SHARED = 2  # pair threshold on shared fingerprints

_WINNOW_FOLD = "(acc * 131 + x) % 1000000007"


def _winnow_oracle() -> str:
    k, w = WINNOW_K, WINNOW_W
    return f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    v AS (
      SELECT doc_id,
             list_transform(tk, x ->
               CAST(ascii(substr(x, 1, 1)) * 256 + length(x) AS BIGINT)) AS vals
      FROM t
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(vals) >= {k} THEN
               list_transform(range(1, len(vals) - {k} + 2),
                 j -> list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                                     list_slice(vals, j, j + {k} - 1)),
                        (acc, x) -> {_WINNOW_FOLD}))
             ELSE [list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
                               (acc, x) -> {_WINNOW_FOLD})]
             END AS gh
      FROM v
    ),
    f AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(1, len(gh) - {w} + 1) + 1),
               j -> list_min(list_slice(gh, j, j + {w} - 1))))) AS fp
      FROM g
    ),
    sized AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n FROM f)
      WHERE n <= {MAX_BAND_SIZE}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS shared_fps
    FROM sized a JOIN sized b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_winnowing_fingerprints",
    oracle=_winnow_oracle(),
    doc="Winnowing document fingerprints (Schleimer/Wilkerson/Aiken "
    f"2003 — the MOSS algorithm): polynomial {WINNOW_K}-gram hashes "
    f"(mod 1e9+7, integer-exact cross-engine), a sliding window of "
    f"{WINNOW_W} gram hashes keeps each window's MINIMUM, giving "
    f"position-robust fingerprints at bounded density ~2/(W+1) with "
    f"the guarantee that any shared token run of >= "
    f"{WINNOW_K + WINNOW_W - 1} tokens yields >= 1 shared "
    "fingerprint. Pairs sharing >= "
    f"{WINNOW_MIN_SHARED} fingerprints are emitted with their count — "
    "the positional complement to MinHash LSH (which is order-blind) "
    "and to dedup_substring_spans (which is exact but span-level). "
    "Plan: gram hashing and window minima are per-row higher-order "
    "folds (zero shuffle); the fingerprint table is the only "
    "exchange; hot fingerprint buckets are capped at "
    f"{MAX_BAND_SIZE} members by the same windowed count the LSH "
    "join uses (rides the join's own exchange), so the pair join is "
    "O(shared fingerprints), never O(n^2) — identical scale posture "
    "to the banded LSH path at 100 TB.",
)
def q_dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, w = WINNOW_K, WINNOW_W
    d = load_table(spark, sf_dir, "documents")
    tk = tokens_col(F.col("text"))
    vals = F.transform(
        tk, lambda x: (F.ascii(F.substring(x, 1, 1)) * 256 + F.length(x)).cast("bigint")
    )
    base = d.select("doc_id", vals.alias("vals"))

    def fold(arr: Column) -> Column:
        return F.aggregate(
            arr,
            F.lit(0).cast("bigint"),
            lambda acc, x: (acc * 131 + x) % 1000000007,
        )

    grams = F.when(
        F.size("vals") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("vals") - k + 1),
            lambda j: fold(F.slice(F.col("vals"), j, k)),
        ),
    ).otherwise(F.array(fold(F.col("vals"))))
    gh = base.select("doc_id", grams.alias("gh"))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.size("gh") - w + 1)),
            lambda j: F.array_min(F.slice(F.col("gh"), j, w)),
        )
    )
    f = gh.select("doc_id", F.explode(fps).alias("fp"))
    # hot-fingerprint cap: same windowed count as capped_bands, keyed on
    # the join's own shuffle key
    wn = Window.partitionBy("fp")
    sized = (
        f.withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("n") <= MAX_BAND_SIZE)
        .drop("n")
    )
    a, b = sized.alias("a"), sized.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


LINE_DEDUP_SEG = 10


@register(
    "curation_line_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS ts FROM documents),
    segs AS (
      SELECT doc_id, CAST(i AS INT) AS seg_pos,
             array_to_string(ts[(i*{LINE_DEDUP_SEG}+1):(i*{LINE_DEDUP_SEG}+{LINE_DEDUP_SEG})], ' ') AS seg
      FROM t, unnest(range(0, CAST(ceil(len(ts) / {float(LINE_DEDUP_SEG)}) AS BIGINT))) AS u(i)
    ),
    fo AS (
      SELECT doc_id, seg_pos, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_pos) AS rn
      FROM segs
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           coalesce(string_agg(seg, ' ' ORDER BY seg_pos) FILTER (WHERE rn = 1), '')
             AS text_deduped
    FROM fo GROUP BY doc_id
    """,
    doc="Corpus-wide line-level dedup WITH document rewrite — the CCNet "
    "/ RefinedWeb curation step (Wenzek 2020 'CCNet' dedups shared "
    "lines/paragraphs across the crawl before any model sees them; "
    "boilerplate headers/footers are the bulk of crawl bytes). The "
    "synthetic corpus has no newlines, so 'lines' are fixed "
    f"{LINE_DEDUP_SEG}-token segments built JVM-side with sequence/"
    "slice/array_join higher-order functions (no per-token explode for "
    "construction); each segment keeps only its FIRST corpus "
    "occurrence (min (doc_id, position) via one row_number window "
    "keyed on the segment — the exact-dedup shuffle shape), and "
    "documents are reassembled from their surviving segments in "
    "position order. A fully-duplicate document rewrites to '' (and "
    "its n_kept = 0) rather than disappearing — curation must keep "
    "the doc row so downstream joins see the tombstone. Plan: one "
    "segment-keyed exchange + one doc-keyed exchange, both "
    "partial->final; the rewrite state per doc is its surviving "
    "segment list, never the corpus. At 100 TB this is exactly the "
    "production line-dedup job: shuffle on segment hash, keep "
    "first-seen, regroup by document. Ref: no reference analog; "
    "public CCNet pipeline shape.",
)
def q_curation_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    nseg = F.ceil(F.size(toks) / F.lit(float(LINE_DEDUP_SEG))).cast("int")
    segs = F.when(
        nseg > 0,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.array_join(
                F.slice(toks, i * LINE_DEDUP_SEG + 1, LINE_DEDUP_SEG), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = d.select("doc_id", F.posexplode(segs).alias("seg_pos", "seg"))
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_pos")
    fo = ex.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(F.col("rn") == 1, F.struct("seg_pos", "seg"))
    return fo.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["seg"]
            ),
            " ",
        ).alias("text_deduped"),
    )


# ----------------------------------------------------------------- HITS
HITS_ITERS = 4
HITS_SCALE = 10**6  # 1e-6 rank units: the normalize multiply ar*SCALE
# stays inside int64 for in-degrees up to ~9e6 (SCALE^2 * indeg < 2^63);
# larger hubs would drop SCALE another decade, trading rank resolution
# for headroom — the same knob PR_SCALE documents for PageRank.
# Node-count floor: a naive h0 = SCALE div n would zero ALL hub mass
# once n > SCALE (first normalizer sum(ar) = 0 -> integer-div-by-zero,
# and the two engines diverge: DuckDB errors, Spark yields nulls), so
# h0's unit is greatest(SCALE, n) — the very first normalization
# rescales everything back to SCALE units, leaving small-graph values
# (n <= SCALE) bit-identical while staying well-defined at any n.


def _hits_oracle() -> str:
    iters = []
    prev = "h0"
    for k in range(1, HITS_ITERS + 1):
        iters.append(f"""
    ar{k} AS (
      SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS ar
      FROM edges e JOIN {prev} h ON h.src = e.src GROUP BY e.dst
    ),
    a{k} AS (
      SELECT dst, CAST((ar * {HITS_SCALE}::BIGINT)
                       // (sum(ar) OVER ()) AS BIGINT) AS a
      FROM ar{k}
    ),
    hr{k} AS (
      SELECT e.src, CAST(sum(a.a) AS BIGINT) AS hr
      FROM edges e JOIN a{k} a ON a.dst = e.dst GROUP BY e.src
    ),
    h{k} AS (
      SELECT src, CAST((hr * {HITS_SCALE}::BIGINT)
                       // (sum(hr) OVER ()) AS BIGINT) AS h
      FROM hr{k}
    )""")
        prev = f"h{k}"
    return f"""
    WITH {_SIGS_CTE},
    bands AS (SELECT doc_id, unnest({_BANDS_SQL}) AS band_key FROM sigs),
    pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs),
    srcs AS (SELECT DISTINCT src FROM edges),
    h0 AS (
      SELECT src, greatest({HITS_SCALE}::BIGINT, count(*) OVER ())
                  // (count(*) OVER ()) AS h
      FROM srcs
    ),
    {','.join(iters)}
    SELECT COALESCE(h.src, a.dst) AS doc_id,
           COALESCE(h.h, 0) AS hub_unit,
           COALESCE(a.a, 0) AS auth_unit,
           round(CAST(COALESCE(h.h, 0) AS DOUBLE) / {HITS_SCALE}, 6) AS hub,
           round(CAST(COALESCE(a.a, 0) AS DOUBLE) / {HITS_SCALE}, 6) AS auth
    FROM h{HITS_ITERS} h FULL JOIN a{HITS_ITERS} a ON a.dst = h.src
    ORDER BY auth_unit DESC, doc_id ASC
    """


def hits_scores(pairs: DataFrame, iters: int = HITS_ITERS):
    """Integer-unit HITS kernel (Kleinberg 1999, JACM 46(5)) over
    (doc_a < doc_b) candidate pairs oriented doc_a -> doc_b:
    returns (hubs DataFrame[src, h], authorities DataFrame[dst, a])
    after ``iters`` synchronous mutual-reinforcement rounds, each
    L1-normalized in integer units via the PageRank `div`-truncation
    discipline (integer sums are associative, so Spark's map-side
    partials and DuckDB's single-threaded fold agree bit-for-bit).
    Each half-round is ONE keyed exchange of (node, long) messages
    with map-side combine — the Pregel shape pagerank_ranks
    certifies — plus a 1-row broadcast of the normalizer."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).localCheckpoint(eager=True)
    srcs = edges.select("src").distinct()
    n = srcs.agg(F.count(F.lit(1)).alias("n"))
    h = srcs.crossJoin(F.broadcast(n)).selectExpr(
        "src", f"greatest({HITS_SCALE}L, n) div n AS h"
    )
    a = None
    for _ in range(iters):
        # ar/hr each feed BOTH the normalizer aggregate and the
        # normalize projection; without a lineage cut the second
        # reference re-derives the edge join, doubling work per
        # half-round (2^8 recomputes over 4 rounds — measured 43 s at
        # sf0.01 vs ~2 s checkpointed). Lazy: the normalizer's action
        # is what materializes it.
        ar = (
            edges.join(h, "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("ar"))
            .localCheckpoint(eager=False)
        )
        sa = ar.agg(F.sum("ar").alias("s"))
        a = ar.crossJoin(F.broadcast(sa)).selectExpr(
            "dst", f"(ar * {HITS_SCALE}L) div s AS a"
        )
        hr = (
            edges.join(a, "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("hr"))
            .localCheckpoint(eager=False)
        )
        sh = hr.agg(F.sum("hr").alias("s"))
        h = hr.crossJoin(F.broadcast(sh)).selectExpr(
            "src", f"(hr * {HITS_SCALE}L) div s AS h"
        )
    return h, a


@register(
    "graph_hits_scores",
    oracle=_hits_oracle(),
    doc="HITS hubs-and-authorities (Kleinberg 1999) on the MinHash-LSH "
    "similarity graph oriented low-id -> high-id: the fourth "
    "eigenvector-style graph analytic next to PageRank, connected "
    "components and label propagation, and the one that "
    "DISTINGUISHES pointer-rich from pointed-at nodes (PageRank on "
    "this graph conflates them). 4 synchronous rounds; each round "
    "updates authorities from hub mass then hubs from the NEW "
    "authority mass, L1-normalizing both sides in integer units of "
    f"1/{HITS_SCALE} with `div` truncation — the graph_pagerank "
    "exact-integer discipline, so both engines agree bit-for-bit "
    "with no float drift. Plan: edges localCheckpoint once; each "
    "half-round is one keyed (node, long) exchange whose sum "
    "partially combines map-side (hub fanout ships per-partition "
    "partials, never raw in-degree), and each normalizer is a 1-row "
    "broadcast. At 100 TB: 8 bounded exchanges over the candidate "
    "graph + durable checkpoints — same cost envelope as PageRank. "
    "Ref: no reference analog; public HITS formula.",
)
def q_graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    h, a = hits_scores(_lsh_candidate_pairs(spark, sf_dir))
    return (
        h.select(F.col("src").alias("doc_id"), "h")
        .join(a.select(F.col("dst").alias("doc_id"), "a"), "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce(F.col("h"), F.lit(0)).alias("hub_unit"),
            F.coalesce(F.col("a"), F.lit(0)).alias("auth_unit"),
            F.round(
                F.coalesce(F.col("h"), F.lit(0)).cast("double") / HITS_SCALE, 6
            ).alias("hub"),
            F.round(
                F.coalesce(F.col("a"), F.lit(0)).cast("double") / HITS_SCALE, 6
            ).alias("auth"),
        )
        .orderBy(F.col("auth_unit").desc(), F.col("doc_id").asc())
    )


# ------------------------------------------- neighborhood function
NF_HOPS = 3


def _nf_oracle() -> str:
    ctes = []
    prev = "p1"
    for k in range(2, NF_HOPS + 1):
        ctes.append(f"""
    p{k} AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT u, v FROM {prev}
        UNION ALL
        SELECT p.u, e.dst AS v FROM {prev} p JOIN edges e ON e.src = p.v
        WHERE p.u <> e.dst
      )
    )""")
        prev = f"p{k}"
    counts = "\n      UNION ALL\n".join(
        f"      SELECT {k} AS hop, CAST(count(*) AS BIGINT) AS n_pairs "
        f"FROM p{k} WHERE u < v" for k in range(1, NF_HOPS + 1)
    )
    return f"""
    WITH {_SIGS_CTE},
    bands AS (SELECT doc_id, unnest({_BANDS_SQL}) AS band_key FROM sigs),
    pairs AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    p1 AS MATERIALIZED (SELECT DISTINCT src AS u, dst AS v FROM edges),
    {','.join(ctes)}
    SELECT hop, n_pairs FROM (
{counts}
    ) ORDER BY hop ASC
    """


@register(
    "graph_neighborhood_function",
    oracle=_nf_oracle(),
    doc="Exact neighborhood function N(t) = #{(u,v): dist(u,v) <= t} "
    f"for t = 1..{NF_HOPS} over the LSH similarity graph — the "
    "distance-distribution summary behind effective-diameter and "
    "closeness analytics (Palmer et al. 2002 ANF; Boldi et al. 2011 "
    "HyperBall). Each hop is ONE keyed self-join of the reachable-"
    "pair set with the edge list plus a distinct — the exact "
    "frontier-expansion semantics. EXACT pair enumeration is "
    "O(n^2)-bounded by design and correct at test scale; at 100 TB "
    "the same loop swaps the distinct pair set for per-node mergeable "
    "HLL registers (HyperBall's bitwise-max exchange, constant state "
    "per node) — the plan SHAPE (k keyed exchanges) is what this "
    "entry certifies, exactly as the approx-distinct family documents "
    "its sketch swap. Determinism: pure set algebra on integer ids; "
    "counts of u<v pairs per hop. Ref: no reference analog; public "
    "ANF/HyperBall.",
)
def q_graph_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _symmetric_edges(_lsh_candidate_pairs(spark, sf_dir))
    pk = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out = None
    for k in range(1, NF_HOPS + 1):
        if k > 1:
            pk = (
                pk.unionByName(
                    pk.join(edges, pk.v == edges.src)
                    .select("u", F.col("dst").alias("v"))
                    .filter(F.col("u") != F.col("v"))
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
        cnt = (
            pk.filter(F.col("u") < F.col("v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
            .select(F.lit(k).alias("hop"), "n_pairs")
        )
        out = cnt if out is None else out.unionByName(cnt)
    return out.orderBy(F.col("hop").asc())


# --------------------------------------- content-defined chunking
CDC_MOD = 64  # boundary when rolling hash % 64 == 0 (~64-char chunks)
CDC_MIN_LEN = 16  # report duplicate chunks at least this long
_CDC_P = 2147483648  # 2^31 window modulus (31-char Gear memory)
_CDC_M = 2654435761  # Knuth multiplicative constant as the gear table


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, text, len(text) AS n,
             list_filter(range(1, len(text) + 1),
               i -> (list_sum(list_transform(range(0, least(i, 31)),
                     k -> ((ascii(text[i-k]) * {_CDC_M}) % {_CDC_P}
                           * CAST(pow(2, k) AS BIGINT)) % {_CDC_P}))
                    ) % {_CDC_P} % {CDC_MOD} = 0) AS bnds
      FROM documents
    ),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(b) + 1),
                j -> substr(text, CASE WHEN j = 1 THEN 1
                                       ELSE b[j-1] + 1 END,
                            b[j] - CASE WHEN j = 1 THEN 0
                                        ELSE b[j-1] END))) AS chunk
      FROM (SELECT doc_id, text, list_append(bnds, n) AS b FROM h)
    )
    SELECT md5(chunk) AS fp, CAST(min(len(chunk)) AS BIGINT) AS chunk_len,
           CAST(count(*) AS BIGINT) AS occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
    FROM ch WHERE len(chunk) >= {CDC_MIN_LEN}
    GROUP BY fp HAVING count(*) >= 2
    """,
    doc="Content-defined chunking dedup (LBFS, Muthitacharoen et al. "
    "2001 SOSP; Gear/FastCDC, Xia et al. 2016 USENIX ATC): a Gear-"
    "style rolling hash h_i = sum over the last 31 chars of "
    "g(c)*2^k mod 2^31 declares a chunk boundary where "
    f"h % {CDC_MOD} == 0, so boundaries depend only on LOCAL content "
    "— an insertion re-chunks one neighborhood instead of shifting "
    "every fixed-width block (the failure mode of offset-based "
    "chunking, and the storage-layer complement to winnowing's "
    "k-gram FINGERPRINT selection: CDC segments, winnowing samples). "
    "Reported: chunks >= "
    f"{CDC_MIN_LEN} chars appearing >= 2 times across the corpus — "
    "the shared-segment table a chunk store would dedup against. "
    "Determinism: the windowed dot-product form of the Gear hash "
    "(mod-2^31 forgets chars older than 31 positions, so the rolling "
    "recurrence has a CLOSED per-position form) is one JVM/DuckDB "
    "higher-order expression with identical BIGINT arithmetic — no "
    "UDF, no sequential state; boundary sets are bit-identical. "
    "Plan: per-row map (O(chars x 31) inside codegen) -> explode -> "
    "one partial->final aggregate keyed by chunk hash; "
    "embarrassingly parallel at 100 TB with fingerprint-keyed "
    "shuffle only for the duplicate summary. Ref: no reference "
    "analog; public LBFS/FastCDC.",
)
def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    # r15 replan (guide §1.2 step 2, per-task work): the oracle's
    # windowed closed form h_i = sum_{k<=min(i,31)-1} g(c_{i-k})*2^k
    # mod 2^31 equals the plain Gear recurrence
    # h_i = (2*h_{i-1} + g(c_i)) mod 2^31 for EVERY i — terms with
    # k >= 31 are multiples of 2^31 and vanish under the modulus, so
    # the 31-char "window" is just what the recurrence forgets on its
    # own. The old expression evaluated the closed form per position
    # with substring(text, i-k, 1) per inner step — O(31 * n) calls
    # each O(i) on UTF8String (code-point seek) = O(31 * n^2 / 2)
    # byte-steps per doc; one left fold over split(text, '') is O(n).
    # Measured at sf0.1 (same process, noop sink): 54.2 -> 1.35 s.
    # Equivalence pinned by tests/test_dedup.py (random
    # strings incl. empty + full-output equality vs the closed form)
    # and the unchanged DuckDB twin (hash MATCH at sf0.001/sf0.01).
    # length(text) >= 1 guard: split('', '') yields [''] (Java split
    # semantics on the non-literal path), whose ascii('') = 0 would
    # fabricate a boundary at position 1 on empty text.
    bnds = (
        f"CASE WHEN length(text) >= 1 THEN "
        f"aggregate(split(text, ''), "
        f"struct(CAST(0 AS BIGINT) AS h, CAST(array() AS ARRAY<INT>) AS bs, "
        f"0 AS i), "
        f"(acc, c) -> struct("
        f"(acc.h * 2 + (ascii(c) * {_CDC_M}L) % {_CDC_P}L) % {_CDC_P}L AS h, "
        f"CASE WHEN (acc.h * 2 + (ascii(c) * {_CDC_M}L) % {_CDC_P}L) "
        f"% {_CDC_P}L % {CDC_MOD} = 0 "
        f"THEN concat(acc.bs, array(acc.i + 1)) ELSE acc.bs END AS bs, "
        f"acc.i + 1 AS i), "
        f"acc -> acc.bs) "
        f"ELSE CAST(array() AS ARRAY<INT>) END"
    )
    withb = d.selectExpr(
        "doc_id",
        "text",
        f"concat({bnds}, array(length(text))) AS b",
    )
    chunks = withb.selectExpr(
        "doc_id",
        "explode(transform(sequence(1, size(b)), "
        "j -> substring(text, CASE WHEN j = 1 THEN 1 "
        "ELSE element_at(b, j - 1) + 1 END, "
        "element_at(b, j) - CASE WHEN j = 1 THEN 0 "
        "ELSE element_at(b, j - 1) END))) AS chunk",
    )
    return (
        chunks.filter(F.length("chunk") >= CDC_MIN_LEN)
        .groupBy(F.md5("chunk").alias("fp"))
        .agg(
            F.min(F.length("chunk")).cast("bigint").alias("chunk_len"),
            F.count(F.lit(1)).cast("bigint").alias("occ"),
            F.count_distinct("doc_id").cast("bigint").alias("docs"),
        )
        .filter(F.col("occ") >= 2)
    )


# ------------------------------------------- LSH recall/precision eval
RECALL_TAU_NUM, RECALL_TAU_DEN = 1, 2  # exact-Jaccard truth threshold 1/2


@register(
    "dedup_minhash_recall_eval",
    oracle=f"""
    WITH {_SIGS_CTE},
    bands AS (
      SELECT doc_id, unnest({_BANDS_SQL}) AS band_key
      FROM sigs
    ),
    {_bands_sized_sql()},
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands_sized x JOIN bands_sized y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    sh AS (
      SELECT DISTINCT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS L
              FROM sh GROUP BY doc_id),
    dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
    ranked AS (
      SELECT t.doc_id, z.L, t.s,
             row_number() OVER (PARTITION BY t.doc_id
                                ORDER BY d.df ASC, t.s ASC) AS rnk
      FROM sh t JOIN dfreq d USING (s) JOIN sizes z USING (doc_id)
    ),
    prefix AS (
      SELECT doc_id, L, s FROM ranked
      WHERE rnk <= L - (L + 1) // 2 + 1
    ),
    pcand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prefix a JOIN prefix b USING (s)
      WHERE a.doc_id < b.doc_id
        AND 2 * b.L >= a.L AND 2 * a.L >= b.L
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM pcand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
      GROUP BY c.doc_a, c.doc_b
    ),
    truth AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE 3 * i.n_inter >= sa.L + sb.L
    ),
    m AS (
      SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
        (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
        (SELECT CAST(count(*) AS BIGINT)
         FROM truth t JOIN cand c
           ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_tp
    )
    SELECT n_truth, n_cand, n_tp,
           round(CAST(n_tp AS DOUBLE) / n_truth, 6) AS recall,
           round(CAST(n_tp AS DOUBLE) / n_cand, 6) AS precision
    FROM m
    """,
    doc="Recall/precision of the PRODUCTION MinHash-banding path "
    "(4 bands x 2 rows + the MAX_BAND_SIZE hot-bucket cap — exactly "
    "the dedup_minhash_lsh_pairs plan) against EXACT Jaccard >= 1/2 "
    "ground truth over the same word-3-shingles, computed scalably "
    "by prefix filtering (Bayardo et al. WWW'07; same kernel as "
    "dedup_jaccard_prefix_filter, re-parameterized to tau=1/2: "
    "prefix length L - ceil(L/2) + 1, length ratio 2*Lb >= La, "
    "verification 3*inter >= La+Lb). This is the dedup analog of "
    "sim_ann_recall_eval: it puts a NUMBER on what banding + the "
    "hot-bucket cap actually lose at the operating threshold, the "
    "eval every 100 TB dedup pipeline runs on a sample before "
    "committing its band geometry. Plan: both sides are "
    "bucket-bounded joins (band keys / rare-prefix shingles); the "
    "metric join is pair-keyed; output is one row. Ref: no "
    "reference analog; public SSJoin + LSH theory.",
)
def q_dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    # ONE shared shingle stage feeds BOTH pipelines (r14 verdict item 5):
    # the deduped (doc_id, s) set is materialized once and the LSH arm's
    # signatures are folded from it — min over the set equals min over
    # the multiset, so the values are unchanged while the second corpus
    # tokenize+explode pass and the duplicate-shingle md5 lanes are gone.
    sh = exploded_shingles(d).dropDuplicates(["doc_id", "s"]).localCheckpoint(
        eager=True
    )  # feeds signatures, sizes, df, prefix ranking, verification
    sigs = minhash_signatures(d, shingles=sh)
    bands = sigs.selectExpr("doc_id", f"explode({_bands_expr('sig')}) AS band_key")
    cand = candidate_pairs(bands).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("L"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    wrank = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
    prefix = (
        sh.join(dfreq, "s")
        .join(sizes, "doc_id")
        .withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("rnk") <= F.col("L") - F.expr("(L + 1) div 2") + 1)
        .select("doc_id", "L", "s")
    )
    a = prefix.select(F.col("doc_id").alias("doc_a"), F.col("L").alias("la"), "s")
    b = prefix.select(F.col("doc_id").alias("doc_b"), F.col("L").alias("lb"), "s")
    pcand = (
        a.join(b, "s")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (2 * F.col("lb") >= F.col("la"))
            & (2 * F.col("la") >= F.col("lb"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # r15 verify replan (guide §2.3/§2.4): the old intersection counted
    # |A ∩ B| by exploding each candidate pair against BOTH shingle
    # frames — pcand×shingles rows shuffled three times (by doc_a, by
    # (doc_b, s), then the pair-keyed groupBy) plus two size joins.
    # The shingle frame is already a per-doc SET, so fold it once per
    # doc and intersect in codegen: |A ∩ B| = size(array_intersect(a, b))
    # — exact for sets, no explode, no pair-keyed shuffle; the two size
    # joins dissolve into size(arr). Equivalence (incl. the zero-
    # intersection pairs the old inner join dropped: 3*0 >= la+lb is
    # false for non-empty docs) pinned in tests/test_dedup.py.
    arr = sh.groupBy("doc_id").agg(F.collect_list("s").alias("ss"))
    aa = arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ss").alias("ssa"),
        F.size("ss").alias("la2"),
    )
    bb = arr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ss").alias("ssb"),
        F.size("ss").alias("lb2"),
    )
    truth = (
        pcand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .filter(
            3 * F.size(F.array_intersect("ssa", "ssb"))
            >= F.col("la2") + F.col("lb2")
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)  # feeds n_truth and the tp join
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    n_tp = truth.join(cand.select("doc_a", "doc_b"), ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tp")
    )
    return (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_tp))
        .select(
            "n_truth",
            "n_cand",
            "n_tp",
            F.round(F.col("n_tp").cast("double") / F.col("n_truth"), 6).alias(
                "recall"
            ),
            F.round(F.col("n_tp").cast("double") / F.col("n_cand"), 6).alias(
                "precision"
            ),
        )
    )


# ------------------------------------ Manku SimHash hamming pair join
SH64_BITS = 64
SH64_BANDS = 4  # 16-bit bands: hamming <= 3 => some band matches exactly
SH64_MAX_HAMMING = 3
SH64_BAND_CAP = 256  # hot-band cap, same discipline as MAX_BAND_SIZE


def _sh64_sums_sql() -> str:
    return ", ".join(f"sum({_bit_pm1_sql(b)}) AS s{b}" for b in range(SH64_BITS))


def _sh64_digits_sql() -> str:
    return ", ".join(
        f"CASE WHEN s{b} >= 0 THEN '1' ELSE '0' END" for b in range(SH64_BITS)
    )


@register(
    "dedup_simhash_hamming_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, md5(t) AS h FROM (
        SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS t
        FROM documents)
    ),
    fp AS (
      SELECT doc_id, concat({_sh64_digits_sql()}) AS f FROM (
        SELECT doc_id, {_sh64_sums_sql()} FROM tok GROUP BY doc_id)
    ),
    bands AS (
      SELECT doc_id, f,
             unnest(list_transform(range(0, {SH64_BANDS}),
               j -> CAST(j AS VARCHAR) || '|'
                    || substr(f, 1 + 16 * j, 16))) AS band_key
      FROM fp
    ),
    sized AS (
      SELECT doc_id, f, band_key FROM (
        SELECT doc_id, f, band_key,
               count(*) OVER (PARTITION BY band_key) AS band_n
        FROM bands)
      WHERE band_n <= {SH64_BAND_CAP}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.f AS fa, y.f AS fb
      FROM sized x JOIN sized y
        ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(list_sum(list_transform(range(1, {SH64_BITS + 1}),
             i -> CASE WHEN fa[i] <> fb[i] THEN 1 ELSE 0 END))
             AS BIGINT) AS hamming
    FROM cand
    WHERE list_sum(list_transform(range(1, {SH64_BITS + 1}),
            i -> CASE WHEN fa[i] <> fb[i] THEN 1 ELSE 0 END))
          <= {SH64_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
    doc="SimHash near-duplicate detection at Manku web-crawl geometry "
    "(Manku, Jain & Das Sarma 2007, WWW '07 'Detecting Near-"
    f"Duplicates for Web Crawling'): a {SH64_BITS}-bit fingerprint "
    "(each distinct token votes +/-1 per md5 bit), split into "
    f"{SH64_BANDS} disjoint 16-bit bands — the pigeonhole guarantee "
    f"that any pair within hamming {SH64_MAX_HAMMING} shares at "
    "least one EXACT band, so candidates come from {SH64_BANDS} "
    "keyed equi-joins, never an all-pairs product, and the full "
    "64-bit hamming verify runs only on collisions. The existing "
    "dedup_simhash entry certifies the 16-bit fingerprint kernel; "
    "this is the table-scale PAIR JOIN the fingerprint exists for. "
    f"Hot bands are capped at {SH64_BAND_CAP} docs (the MAX_BAND_"
    "SIZE discipline; a degenerate band would otherwise square). "
    "Cross-engine: identical md5-bit arithmetic, integer hamming, "
    "no floats anywhere. Plan: one token aggregate (64 bit-sums "
    "ride one shuffle), one band explode + capped self-equi-join, "
    "verify in codegen. At 100 TB this is the standard crawl-dedup "
    "geometry verbatim.",
)
def q_dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    # JVM-side bit extraction: the digest's first 64 bits are parsed
    # ONCE per row into two 32-bit words, and each of the 64 vote
    # expressions is a shift-and-mask on those words — measured 18.8 s
    # -> ~4 s at sf0.1 vs the per-bit instr/substr nibble form (the
    # oracle keeps the certified nibble arithmetic; the bit values are
    # identical, proven by the parity hash)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("t")
    ).selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) AS w0",
        "CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT) AS w1",
    )
    sums = tok.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum((shiftright(w{b // 32}, {31 - b % 32}) & 1) * 2 - 1)"
            ).alias(f"s{b}")
            for b in range(SH64_BITS)
        ]
    )
    # fingerprint packed into two 32-bit words: the verify becomes
    # bit_count(xor) on bigints and the band keys become integers —
    # the per-pair 64-char substring loop was the measured hot spot
    # (~31.7k surviving pairs, far more candidates, at sf0.1); the
    # oracle keeps the certified bit-string form, values identical
    fp = sums.select(
        "doc_id",
        *[
            sum(
                [
                    F.when(
                        F.col(f"s{32 * w + i}") >= 0, F.lit(1 << (31 - i))
                    ).otherwise(F.lit(0))
                    for i in range(32)
                ],
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"f{w}")
            for w in range(SH64_BITS // 32)
        ],
    ).localCheckpoint(eager=False)  # feeds all four band probes
    bands = fp.selectExpr(
        "doc_id",
        "f0",
        "f1",
        f"explode(transform(sequence(0, {SH64_BANDS - 1}), j -> "
        "CAST(j AS BIGINT) * 65536 + "
        "(shiftright(CASE WHEN j < 2 THEN f0 ELSE f1 END, "
        "CASE WHEN j % 2 = 0 THEN 16 ELSE 0 END) & 65535))) AS band_key",
    )
    wb = Window.partitionBy("band_key")
    sized = (
        bands.withColumn("band_n", F.count(F.lit(1)).over(wb))
        .filter(F.col("band_n") <= SH64_BAND_CAP)
        .drop("band_n")
    )
    x = sized.select(
        F.col("doc_id").alias("doc_a"),
        F.col("f0").alias("fa0"),
        F.col("f1").alias("fa1"),
        "band_key",
    )
    y = sized.select(
        F.col("doc_id").alias("doc_b"),
        F.col("f0").alias("fb0"),
        F.col("f1").alias("fb1"),
        "band_key",
    )
    cand = (
        x.join(y, "band_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fa0", "fa1", "fb0", "fb1")
        .distinct()
    )
    ham = F.expr("bit_count(fa0 ^ fb0) + bit_count(fa1 ^ fb1)")
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= SH64_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


@register(
    "graph_modularity_score",
    oracle=_lpa_ctes()
    + f""",
    comm AS (SELECT doc_id, label AS community FROM l{LPA_ITERS}),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
    within AS (
      SELECT ca.community, CAST(count(*) AS BIGINT) AS e_c
      FROM pairs u
      JOIN comm ca ON ca.doc_id = u.doc_a
      JOIN comm cb ON cb.doc_id = u.doc_b
      WHERE ca.community = cb.community
      GROUP BY ca.community
    ),
    deg AS (SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    per AS (
      SELECT c.community,
             CAST(count(*) AS BIGINT) AS n_members,
             CAST(coalesce(any_value(w.e_c), 0) AS BIGINT) AS e_within,
             CAST(sum(g.d) AS BIGINT) AS d_total
      FROM comm c
      JOIN deg g USING (doc_id)
      LEFT JOIN within w ON w.community = c.community
      GROUP BY c.community
    ),
    q AS (
      SELECT CAST(sum(CAST(round(
               CAST(e_within AS DOUBLE) / m.m
               - (CAST(d_total AS DOUBLE) / (2.0 * m.m))
                 * (CAST(d_total AS DOUBLE) / (2.0 * m.m)), 9)
             AS DECIMAL(38,9))) AS DOUBLE) AS q
      FROM per CROSS JOIN m
    )
    SELECT p.community, p.n_members, p.e_within, p.d_total,
           round(q.q, 6) AS modularity
    FROM per p CROSS JOIN q
    ORDER BY p.community
    """,
    doc="Newman modularity Q = sum_c[e_c/m - (d_c/2m)^2] (Newman & "
    "Girvan 2004, Phys. Rev. E 69) of the label-propagation "
    "communities over the LSH similarity graph — the quality score "
    "that tells a curation pipeline whether graph_label_propagation's "
    "partition is real structure (Q >> 0) or noise (Q ~ 0), i.e. "
    "whether to trust community-level dedup decisions. Reuses the "
    "certified LPA substrate verbatim (same uncapped pair graph, "
    "same 4 synchronous rounds); the additions are one community-"
    "attach join whose exploded (community, within-flag) ends fold "
    "e_within and d_total out of a single partially-combined "
    "aggregate (m = sum(d_total) div 2 exactly), and a community-"
    "count-sized Q sum on the round(.,9)::decimal fold-order-safe "
    "accumulator. Integer e_c/d_c/m throughout; doubles only in the "
    "final fixed expression. Plan: all joins keyed on node/community "
    "ids; nothing corpus-quadratic beyond the already-banded pair "
    "graph. Ref: no reference analog; public Newman 2004.",
)
def q_graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _lsh_candidate_pairs(spark, sf_dir).localCheckpoint(
        eager=True
    )  # feeds edges (via LPA) and the label-attach join
    edges = _symmetric_edges(pairs)
    # r16: checkpoint the node-sized label table once — comm feeds three
    # branches (ca, cb, members) and without the cut the whole 4-round
    # LPA plan is embedded once per branch (84-Exchange static plan)
    labels = propagate_labels(edges).localCheckpoint(eager=False)
    comm = labels.select("doc_id", F.col("label").alias("community"))
    ca = comm.select(F.col("doc_id").alias("doc_a"), F.col("community").alias("cca"))
    cb = comm.select(F.col("doc_id").alias("doc_b"), F.col("community").alias("ccb"))
    # r16 one-aggregate tail (the powerlaw pattern): attach both endpoint
    # communities once, explode each pair into its two (community, w)
    # ends — w marks a within-community pair at its doc_a end only — and
    # fold e_within and d_total out of ONE partially-combined aggregate.
    # Replaces the separate within groupBy, the edges-sized degree
    # aggregate and the 3-way comm⋈deg⋈within rollup; Σ_c d_total = 2m
    # makes the m scan of pairs free as well.
    ends = (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("cca").alias("community"),
                        (F.col("cca") == F.col("ccb")).cast("bigint").alias("w"),
                    ),
                    F.struct(
                        F.col("ccb").alias("community"),
                        F.lit(0).cast("bigint").alias("w"),
                    ),
                )
            ).alias("e")
        )
        .select("e.community", "e.w")
    )
    stats = ends.groupBy("community").agg(
        F.sum("w").cast("bigint").alias("e_within"),
        F.count(F.lit(1)).cast("bigint").alias("d_total"),
    )
    members = comm.groupBy("community").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    # inner join is exact: every member node has >=1 incident pair, so
    # every community in members also appears in stats (and vice versa)
    per = (
        members.join(stats, "community")
        .select("community", "n_members", "e_within", "d_total")
        .localCheckpoint(eager=False)  # feeds m, q and the output join
    )
    m = per.agg(F.expr("sum(d_total) div 2").cast("bigint").alias("m"))
    q = (
        per.crossJoin(F.broadcast(m))
        .agg(
            F.sum(
                F.round(
                    F.col("e_within").cast("double") / F.col("m")
                    - (F.col("d_total").cast("double") / (2.0 * F.col("m")))
                    * (F.col("d_total").cast("double") / (2.0 * F.col("m"))),
                    9,
                ).cast("decimal(38,9)")
            )
            .cast("double")
            .alias("q")
        )
    )
    return (
        per.crossJoin(F.broadcast(q))
        .select(
            "community",
            "n_members",
            "e_within",
            "d_total",
            F.round("q", 6).alias("modularity"),
        )
        .orderBy("community")
    )
