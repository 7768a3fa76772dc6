"""Text-analysis operators X12 (SURVEY §2.4) over the documents table.

Everything is built from JVM-side primitives: split / higher-order array
lambdas / explode + hash aggregate. No Python in the hot path, so the
plans scale to 100 TB of documents exactly like the relational surface —
tokenization is a per-row map (no shuffle); frequency analyses are one
partial->final aggregate; top-k adds a TakeOrdered.

Cross-engine notes: tokens are `split(trim(text), '\\s+')` in both
engines; ratios round to 4dp; md5 hex is identical in Spark and DuckDB
(the portable-hash trick used throughout the dedup/similarity modules).
"""

from __future__ import annotations

import pandas as pd  # annotation target for the one vectorized UDF below

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.parquet import load_table, load_table_parallel
from .catalog import register

# Marker tokens for the n-gram language heuristic. The driver corpus is
# synthetic (same vocabulary for every lang label), so the heuristic's
# *value* is plumbing; its *plan shape* (per-row lambda scoring + argmax)
# is the deliverable.
LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "code": ("spark", "query", "hash"),
    "data": ("row", "column", "table"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def tokens_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


_TOKENS_SQL = "string_split_regex(trim(text), '\\s+')"


def _hits(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda x: x.isin(*words)))


def _hits_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, x -> x IN ({inlist})))"


@register(
    "text_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars, {_TOKENS_SQL} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           round(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
                 / len(toks), 4) AS avg_token_len,
           round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS type_token_ratio,
           n_chars
    FROM t
    """,
    doc="X12: per-document token counting + lexical-diversity stats via "
    "higher-order array functions (no explode, no shuffle).",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    d = d.select("doc_id", "n_chars", toks.alias("toks"))
    total_len = F.aggregate(
        F.col("toks"), F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
    )
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct_tokens"),
        F.round(total_len / F.size("toks"), 4).alias("avg_token_len"),
        F.round(
            F.size(F.array_distinct("toks")).cast("double") / F.size("toks"), 4
        ).alias("type_token_ratio"),
        "n_chars",
    )


@register(
    "text_word_freq_topk",
    oracle=f"""
    SELECT tok AS token, count(*) AS n
    FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 40
    """,
    doc="X12: corpus-wide word frequency — explode + partial->final count "
    "+ top-k with tiebreak. The canonical one-shuffle text aggregate.",
)
def q_text_word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(40)
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(CAST({_hits_sql(STOPWORDS)} AS DOUBLE) / len(toks), 4) AS stopword_ratio,
           round(least(1.0, len(toks) / 100.0)
                 * (1.0 - CAST({_hits_sql(STOPWORDS)} AS DOUBLE) / len(toks)), 4) AS quality
    FROM t
    """,
    doc="X12: length/stopword quality scoring — the standard pre-training "
    "corpus filter shape (per-row lambdas, rational arithmetic only so "
    "both engines agree bit-for-bit after rounding).",
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    stop_ratio = _hits(F.col("toks"), STOPWORDS).cast("double") / F.size("toks")
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(
            F.least(F.lit(1.0), F.size("toks") / F.lit(100.0)) * (F.lit(1.0) - stop_ratio), 4
        ).alias("quality"),
    )


def _lang_guess_sql() -> str:
    hits = {k: _hits_sql(v) for k, v in LANG_MARKERS.items()}
    return f"""
    WITH t AS (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
    scored AS (
      SELECT doc_id, lang,
             {hits['en']} AS hits_en,
             {hits['code']} AS hits_code,
             {hits['data']} AS hits_data
      FROM t
    )
    SELECT doc_id, lang AS labeled_lang, hits_en, hits_code, hits_data,
           CASE WHEN hits_en >= hits_code AND hits_en >= hits_data THEN 'en'
                WHEN hits_code >= hits_data THEN 'code'
                ELSE 'data' END AS guess
    FROM scored
    """


@register(
    "text_lang_id",
    oracle=_lang_guess_sql(),
    doc="X12: marker-token language-ID heuristic — per-row scoring against "
    "K marker sets + deterministic argmax. On real corpora the marker "
    "sets are per-language n-gram tables; the plan shape is identical.",
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", F.col("lang").alias("labeled_lang"), tokens_col(F.col("text")).alias("toks"))
    scored = d.select(
        "doc_id",
        "labeled_lang",
        _hits(F.col("toks"), LANG_MARKERS["en"]).alias("hits_en"),
        _hits(F.col("toks"), LANG_MARKERS["code"]).alias("hits_code"),
        _hits(F.col("toks"), LANG_MARKERS["data"]).alias("hits_data"),
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        "hits_en",
        "hits_code",
        "hits_data",
        F.when(
            (F.col("hits_en") >= F.col("hits_code")) & (F.col("hits_en") >= F.col("hits_data")),
            F.lit("en"),
        )
        .when(F.col("hits_code") >= F.col("hits_data"), F.lit("code"))
        .otherwise(F.lit("data"))
        .alias("guess"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
    FROM t
    """,
    doc="X12: canonical document fingerprint — md5 over the sorted distinct "
    "token set; invariant to word order and repetition, so grouping by it "
    "finds shuffled/duplicated-content docs. md5 hex matches across "
    "engines (the portable-hash convention).",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("fingerprint"),
    )


@register(
    "text_word_bigrams",
    oracle=f"""
    WITH t AS (SELECT {_TOKENS_SQL} AS toks FROM documents),
    b AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t WHERE len(toks) >= 2
    )
    SELECT bigram, count(*) AS n
    FROM b
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 30
    """,
    doc="X12: word-bigram profile — n-gram construction with a positional "
    "array lambda, then the standard count/top-k.",
)
def q_text_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # posexplode + element_at on the carried token array: the generate
    # and the concat stay in one codegen span with zero shuffle (the
    # array lambda form ran 4.5s, the window-lead form ~0.5s, this form
    # ~0.15s before the agg at sf0.1 — see exploded_shingles in
    # operators/dedup.py for the full measurement story)
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    # tokenize in its own select below the explode — see
    # exploded_shingles in operators/dedup.py: inlining split() into the
    # posexplode projection makes Catalyst re-split per exploded row
    base = d.select(toks.alias("tk"))
    ex = base.select(
        F.size("tk").alias("n"), "tk", F.posexplode("tk").alias("pos", "tok")
    )
    bigrams = ex.filter(F.col("pos") <= F.col("n") - 2).select(
        F.concat_ws(" ", "tok", F.element_at("tk", F.col("pos") + 2)).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(30)
    )


@register(
    "text_token_count_bpeish",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_pieces,
           len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS n_distinct_pieces
    FROM documents
    """,
    doc="X12: BPE-ish regex token counting — alpha runs / digit runs / "
    "single punctuation as separate pieces (the pre-tokenizer shape "
    "real BPE vocabularies train over). Map-only regexp_extract_all.",
)
def q_text_token_count_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # idx=0 (whole match): Spark defaults to group 1, DuckDB to group 0
    pieces = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    return d.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(F.array_distinct(pieces)).alias("n_distinct_pieces"),
    )


@register(
    "text_rolling_hash",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, x -> CAST(ascii(substr(x, 1, 1)) * 256 + length(x) AS BIGINT))),
             (acc, v) -> (acc * 131 + v) % 1000000007) AS rolling_hash
    FROM t
    """,
    doc="X12: positional rolling-hash document fingerprint — polynomial "
    "fold over the token sequence (order-sensitive, unlike the "
    "canonical md5 fingerprint). Integer arithmetic mod 1e9+7 is "
    "bit-identical across engines; per-row fold, no shuffle.",
)
def q_text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    vals = F.transform(
        toks, lambda x: (F.ascii(F.substring(x, 1, 1)) * 256 + F.length(x)).cast("bigint")
    )
    rolling = F.aggregate(
        vals,
        F.lit(0).cast("bigint"),
        lambda acc, v: (acc * 131 + v) % 1000000007,
    )
    return d.select("doc_id", rolling.alias("rolling_hash"))


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
    bg AS (
      SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                            i -> tk[i] || ' ' || tk[i+1])) AS bigram
      FROM t WHERE len(tk) >= 2
    ),
    cnt AS (
      SELECT doc_id, bigram, count(*) AS c
      FROM bg GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_bigram_ratio,
           round(CAST(count(*) AS DOUBLE) / sum(c), 4) AS distinct_bigram_ratio
    FROM cnt GROUP BY doc_id
    """,
    doc="Gopher-style repetition quality signal: per document, the "
    "fraction of bigram mass taken by the single most frequent bigram "
    "and the distinct-bigram ratio — boilerplate and template spam "
    "score high/low respectively. Explode + two chained aggregates on "
    "the SAME key (doc_id, then doc_id-only): the second groupBy is a "
    "re-aggregation of already-co-located rows, so only the first "
    "shuffles data at 100 TB.",
)
def q_text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    ex = base.select(
        "doc_id", F.size("tk").alias("n"), "tk", F.posexplode("tk").alias("pos", "tok")
    )
    bigrams = ex.filter(F.col("pos") <= F.col("n") - 2).select(
        "doc_id",
        F.concat_ws(" ", "tok", F.element_at("tk", F.col("pos") + 2)).alias("bigram"),
    )
    cnt = bigrams.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.round(F.max("c").cast("double") / F.sum("c"), 4).alias("top_bigram_ratio"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 4).alias(
            "distinct_bigram_ratio"
        ),
    )


CHUNK_TOKENS = 32
CHUNK_STRIDE = 16


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents)
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           least({CHUNK_TOKENS}, len(tk) - start) AS n_chunk_tokens,
           md5(array_to_string(
             list_slice(tk, start + 1, least(start + {CHUNK_TOKENS}, len(tk))),
             ' ')) AS chunk_md5
    FROM (SELECT doc_id, tk, unnest(range(0, len(tk), {CHUNK_STRIDE})) AS start FROM t)
    """,
    doc=f"Fixed-size token chunking with overlap (window {CHUNK_TOKENS}, "
    "stride {CHUNK_STRIDE}) — the standard shaping step before "
    "tokenizer/embedding stages of a training pipeline. sequence() + "
    "posexplode + slice on the carried token array: per-row generate, "
    "no shuffle at any scale; chunk content is verified cross-engine "
    "via md5 of the joined slice.",
)
def q_text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    ex = base.select(
        "doc_id",
        F.size("tk").alias("n"),
        "tk",
        F.explode(
            F.sequence(F.lit(0), F.size("tk") - 1, F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    return ex.select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start")).alias("n_chunk_tokens"),
        F.md5(
            F.concat_ws(" ", F.slice("tk", F.col("start") + 1, F.lit(CHUNK_TOKENS)))
        ).alias("chunk_md5"),
    )


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    doc="TF-IDF top-3 terms per document: explode -> tf per (doc, term), "
    "df per term, idf = ln(N/df) with N from a 1-row count aggregate "
    "(broadcast), window top-k per doc. Ordering uses the ROUNDED "
    "score so cross-engine float noise cannot flip ranks. The df "
    "table is vocabulary-sized and carries NO broadcast hint: AQE "
    "picks broadcast at test scale from measured sizes and falls "
    "back to a shuffled join at 100 TB, where a forced hint would "
    "OOM executors. tf is the only big shuffle, and the top-k "
    "window re-uses tf's doc_id partitioning.",
)
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


# ------------------------------------------------------- BM25 retrieval
# Okapi BM25 (Robertson & Zaragoza 2009, "The Probabilistic Relevance
# Framework"), with the Lucene-style non-negative idf
# ln(1 + (N - df + 0.5)/(df + 0.5)). Standard free parameters.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_QUERY_TERMS = 8  # query = doc 0's top-8 terms by tf (term tiebreak)


@register(
    "retrieval_bm25_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS total FROM dl),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    q AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY tf DESC, term ASC) AS rn
        FROM tf WHERE doc_id = 0
      ) WHERE rn <= {BM25_QUERY_TERMS}
    ),
    scored AS (
      SELECT tf.doc_id,
             round(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * (tf.tf * ({BM25_K1} + 1.0))
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl
                       / (CAST(stats.total AS DOUBLE) / stats.n_docs))),
                   9) AS c
      FROM tf JOIN q USING (term) JOIN df USING (term)
           JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      WHERE tf.doc_id <> 0
    )
    SELECT doc_id,
           round(CAST(sum(CAST(c AS DECIMAL(28,9))) AS DOUBLE), 6) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC LIMIT {BM25_TOPK}
    """,
    doc="Okapi BM25 top-k retrieval (Robertson & Zaragoza 2009; the "
    "Lucene BM25Similarity idf variant ln(1+(N-df+0.5)/(df+0.5))): "
    f"query = doc 0's top-{BM25_QUERY_TERMS} terms by tf, k1={BM25_K1} "
    f"b={BM25_B}. Completes the ranked-retrieval family next to "
    "text_tfidf_topk (no length normalization) and "
    "hybrid_retrieval_rrf (rank fusion): BM25 is the sparse arm every "
    "production search stack actually ships. Determinism: avgdl is "
    "exact-int sum/count divided once (bit-identical cross-engine); "
    "per-(doc,term) contributions round to 9dp then sum as "
    "DECIMAL(28,9); final score rounds to 6dp with doc_id tiebreak. "
    "Plan: tf is the only corpus-sized shuffle; the vocabulary-sized "
    "df table is semi-joined down to the <=8 query terms FIRST and "
    "only that pruned frame is broadcast (a vocabulary broadcast "
    "would OOM at 100 TB where distinct terms reach 1e8-1e9); the "
    "same broadcast doubles as the postings probe, so the dl join "
    "touches only matching docs — a per-term inverted-list probe, "
    "never all-pairs, exactly how a distributed search engine "
    "evaluates a disjunctive query. Ref: no reference analog; public "
    "BM25 formula.",
)
def q_retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total"))
    wq = Window.orderBy(F.col("tf").desc(), F.col("term").asc())
    q = (
        tf.filter(F.col("doc_id") == 0)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= BM25_QUERY_TERMS)
        .select("term")
    )
    avgdl = F.col("total").cast("double") / F.col("n_docs")
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl)
    # Prune the vocabulary-sized df table down to the <=BM25_QUERY_TERMS
    # query rows BEFORE broadcasting: dfreq is O(vocabulary) (1e8-1e9 rows
    # at 100 TB) and must never ship whole, while dfreq_q is <=8 rows and
    # doubles as the query-term postings filter (one broadcast join covers
    # both the term filter and the df lookup).
    dfreq_q = dfreq.join(F.broadcast(q), "term")
    scored = (
        tf.filter(F.col("doc_id") != 0)
        .join(F.broadcast(dfreq_q), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom, 9).alias("c"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("c").cast("decimal(28,9)")).cast("double"), 6
            ).alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
    )


@register(
    "quality_percentile_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    sc AS (
      SELECT doc_id,
             round(least(1.0, len(toks) / 100.0)
                   * (1.0 - CAST({_hits_sql(STOPWORDS)} AS DOUBLE) / len(toks)),
                   4) AS quality
      FROM t
    ),
    thr AS (SELECT quantile_cont(quality, 0.5) AS t FROM sc)
    SELECT sc.doc_id, sc.quality FROM sc, thr WHERE sc.quality >= thr.t
    """,
    doc="Percentile-threshold corpus filtering: keep documents at or "
    "above the corpus-median quality score — 'filter to the best half' "
    "without hand-picking a constant, the usual way quality gates are "
    "specified for training mixes. Two-phase plan: one aggregate "
    "produces the 1-row threshold (exact interpolated percentile; "
    "production swaps in percentile_approx whose sketch state is "
    "constant-size), which broadcasts into a map-side filter on the "
    "second scan — no shuffle of the corpus itself at any scale. "
    "Scores are pre-rounded identically in both engines so the "
    "threshold comparison is exact.",
)
def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _quality_scores(spark, sf_dir)
    thr = sc.agg(F.percentile("quality", F.lit(0.5)).alias("t"))
    return (
        sc.crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("t"))
        .select("doc_id", "quality")
    )


def _quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    stop_ratio = _hits(F.col("toks"), STOPWORDS).cast("double") / F.size("toks")
    return toks.select(
        "doc_id",
        F.round(
            F.least(F.lit(1.0), F.size("toks") / F.lit(100.0)) * (F.lit(1.0) - stop_ratio),
            4,
        ).alias("quality"),
    )


@register(
    "quality_percentile_filter_approx",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    sc AS (
      SELECT doc_id,
             round(least(1.0, len(toks) / 100.0)
                   * (1.0 - CAST({_hits_sql(STOPWORDS)} AS DOUBLE) / len(toks)),
                   4) AS quality
      FROM t
    ),
    thr AS (SELECT quantile_disc(quality, 0.5) AS t FROM sc)
    SELECT sc.doc_id, sc.quality FROM sc, thr WHERE sc.quality >= thr.t
    """,
    doc="The 100 TB form of quality_percentile_filter: the threshold comes "
    "from percentile_approx, whose GK-sketch aggregation state is "
    "constant-size (the exact percentile's buffer holds every value). "
    "accuracy=1e6 makes rank error < 1 row below ~1M docs, and Spark's "
    "sketch picks the same lower-median *element* as the oracle's "
    "quantile_disc (verified over even/odd counts), so the filter is "
    "still hash-checkable. Beyond that scale the threshold is "
    "approximate by design — the right trade for a quality gate.",
)
def q_quality_percentile_filter_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _quality_scores(spark, sf_dir)
    thr = sc.agg(F.percentile_approx("quality", F.lit(0.5), F.lit(1_000_000)).alias("t"))
    return (
        sc.crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("t"))
        .select("doc_id", "quality")
    )


# ------------------------------------------------- governance / curation
@register(
    "pii_redact",
    oracle="""
    SELECT c_custkey AS customer_id,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
           md5(c_name) AS name_pseudonym,
           c_mktsegment AS segment
    FROM customer
    """,
    doc="PII redaction + pseudonymization — the governance pass every "
    "training-data pipeline runs before text leaves the trust boundary. "
    "Two complementary outputs per row: a masked rendering (digits -> "
    "'#'; production swaps in the email/phone/SSN pattern set, same "
    "plan) for humans, and a stable one-way pseudonym (md5; production: "
    "keyed HMAC) so downstream joins/aggregations still line up without "
    "the identity. Entirely map-side regex + hash in whole-stage "
    "codegen: no shuffle, runs at scan speed at any corpus size, and "
    "the filter/projection still push down past it. The '[0-9]' "
    "pattern is identical Java-regex/RE2 so both engines mask the "
    "same bytes.",
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        F.regexp_replace("c_name", "[0-9]", "#").alias("name_masked"),
        F.md5("c_name").alias("name_pseudonym"),
        F.col("c_mktsegment").alias("segment"),
    )


# Knuth multiplicative hash -> uniform [0,1): exact BIGINT arithmetic in
# both engines (doc_id * 2654435761 < 2^63 for doc_id < 2^31), so the
# per-row uniform is bit-identical cross-engine — no float hashing, no
# engine RNG.
_LB_U_SQL = "((doc_id * 2654435761) % 4294967296) / 4294967296.0"


def _lb_u() -> Column:
    return (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) / F.lit(
        4294967296.0
    )


@register(
    "sample_language_balanced",
    oracle=f"""
    WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
    tgt AS (SELECT min(cnt) AS target FROM counts),
    rates AS (SELECT lang, CAST(target AS DOUBLE) / cnt AS rate FROM counts, tgt)
    SELECT d.doc_id, d.lang, round({_LB_U_SQL}, 6) AS u
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE {_LB_U_SQL} < r.rate
    """,
    doc="Language-balanced resampling: downsample every language to the "
    "smallest language's share (the usual first step of a multilingual "
    "training mix; the target vector is a config in production). "
    "Deliberately rate-based, not rank-based: per-lang keep-rates "
    "(|smallest| / |lang|, from a language-cardinality aggregate that "
    "is broadcast-sized by construction) turn the sample into a "
    "map-side filter on a deterministic per-row uniform. A per-lang "
    "row_number() would give exact quotas but serializes each "
    "language through ONE window partition — a 5-language corpus at "
    "100 TB would hit 5 hot partitions; the rate form has no shuffle "
    "of the corpus at all and misses quotas only by binomial noise "
    "(~1/sqrt(n) relative). The uniform is a Knuth multiplicative "
    "hash in exact integer arithmetic — reproducible across engines, "
    "runs, and partitionings.",
)
def q_sample_language_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    tgt = counts.agg(F.min("cnt").alias("target"))
    rates = counts.crossJoin(F.broadcast(tgt)).select(
        "lang", (F.col("target").cast("double") / F.col("cnt")).alias("rate")
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(_lb_u() < F.col("rate"))
        .select("doc_id", "lang", F.round(_lb_u(), 6).alias("u"))
    )


BOILER_DF_FRAC = 0.008  # shingle present in >0.8% of docs == boilerplate


@register(
    "text_boilerplate_shingles",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, len(toks) - 1),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
      FROM t WHERE len(toks) >= 3
      UNION ALL
      SELECT doc_id, trim(text) AS s FROM documents
      WHERE len({_TOKENS_SQL}) < 3
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    hot AS (
      SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s), n
      WHERE df >= {BOILER_DF_FRAC} * n_docs
    )
    SELECT sh.doc_id, count(*) AS n_shingles,
           count(hot.s) AS n_boiler,
           round(CAST(count(hot.s) AS DOUBLE) / count(*), 4)
             AS boilerplate_ratio
    FROM sh LEFT JOIN hot USING (s)
    GROUP BY sh.doc_id
    """,
    doc="Boilerplate detection by corpus-frequent shingles — the "
    "RefinedWeb/CCNet line-dedup idea re-expressed at word-3-gram "
    "granularity (this corpus has no newlines): a shingle occurring in "
    ">0.8% of documents is boilerplate (headers, footers, nav chrome "
    "in real crawls), and each document reports how much of it is "
    "made of such shingles — the scrub/keep decision is a threshold "
    "on boilerplate_ratio. Plan: one explode -> shingle-df aggregate "
    "(the only corpus-wide shuffle, same shape as tf-idf's df); the "
    "hot-shingle list is tiny BY DEFINITION of the frequency "
    "threshold, so flagging is a broadcast LEFT join back onto the "
    "exploded shingles feeding ONE per-doc aggregate (count + "
    "conditional count — total and boilerplate tallies in the same "
    "pass). The shingle stream is computed twice (df pass, tally "
    "pass); a production run over 100 TB persists the exploded "
    "shingles between the two. No quadratic term anywhere.",
)
def q_text_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import exploded_shingles

    d = load_table(spark, sf_dir, "documents")
    # fast posexplode+element_at shingle path (see exploded_shingles:
    # the explode(transform-lambda) form re-evaluates the whole gram
    # construction per lane — measured 8.0s vs 2.6s here at sf0.1);
    # dropDuplicates gives the per-doc distinct set the df needs,
    # tiny docs contribute their whole text as one pseudo-shingle in
    # both engines
    sh = exploded_shingles(d).dropDuplicates(["doc_id", "s"])
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    hot = (
        df.crossJoin(F.broadcast(n))
        .filter(F.col("df") >= F.lit(BOILER_DF_FRAC) * F.col("n_docs"))
        .select("s", F.lit(1).alias("is_hot"))
    )
    return (
        sh.join(F.broadcast(hot), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("is_hot").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.round(F.col("n_boiler").cast("double") / F.col("n_shingles"), 4).alias(
                "boilerplate_ratio"
            ),
        )
    )


@register(
    "text_lm_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    b AS (
      SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS bg
        FROM t WHERE len(toks) >= 2
      )
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
    uc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1),
    p AS (
      SELECT w1, w2, CAST(c12 AS DOUBLE) / c1 AS p
      FROM bc JOIN uc USING (w1)
    )
    SELECT b.doc_id, count(*) AS n_bigrams,
           round(avg(ln(p.p)), 4) AS avg_logprob
    FROM b JOIN p USING (w1, w2)
    GROUP BY b.doc_id
    """,
    doc="Statistical LM quality scoring — the CCNet/KenLM-style signal: "
    "train a bigram MLE on the corpus itself (P(w2|w1) = "
    "C(w1,w2)/C(w1)), then score each document by its mean bigram "
    "log-probability. Low scores mark machine-garbled / unnatural "
    "token sequences; the production filter thresholds on this score "
    "(or a KenLM model trained offline — same join shape, the model "
    "table just arrives as a side input instead of a self-aggregate). "
    "Plan: one codegen posexplode+element_at bigram pass (no window), "
    "a (w1,w2) count aggregate, C(w1) derived FROM the bigram counts "
    "(aggregate of the much smaller model table, not a second corpus "
    "pass), then a model join back onto the bigram stream and one "
    "per-doc aggregate. The model table is bigram-vocabulary-sized — "
    "far below corpus scale; AQE picks broadcast vs shuffle join by "
    "its runtime size.",
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    ex = base.select(
        "doc_id", F.size("tk").alias("n"), "tk", F.posexplode("tk").alias("pos", "tok")
    )
    big = ex.filter(F.col("pos") <= F.col("n") - 2).select(
        "doc_id",
        F.col("tok").alias("w1"),
        F.element_at("tk", F.col("pos") + 2).alias("w2"),
    )
    # the bigram stream feeds both the model aggregate and the scoring
    # join probe; the model side broadcasts (no reusable shuffle), so
    # materialize the stream once instead of exploding twice — measured
    # 1.08s -> 0.76s at sf0.1 (storage persist at 100 TB)
    big = big.localCheckpoint(eager=True)
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uc = bc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    probs = bc.join(uc, "w1").select(
        "w1", "w2", (F.col("c12").cast("double") / F.col("c1")).alias("p")
    )
    return (
        big.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log("p")), 4).alias("avg_logprob"),
        )
    )


@register(
    "sample_quality_deciles",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
    sc AS (
      SELECT doc_id, lang,
             round(least(1.0, len(toks) / 100.0)
                   * (1.0 - CAST({_hits_sql(STOPWORDS)} AS DOUBLE) / len(toks)),
                   4) AS quality
      FROM t
    )
    SELECT doc_id, lang, quality,
           ntile(10) OVER w AS decile,
           round(percent_rank() OVER w, 4) AS pr,
           round(cume_dist() OVER w, 4) AS cd
    FROM sc
    WINDOW w AS (PARTITION BY lang ORDER BY quality ASC, doc_id ASC)
    """,
    doc="Quality-decile stratification per language — the assignment step "
    "of a stratified training mix ('equal tokens from every quality "
    "decile of every language'): ntile(10) + percent_rank + cume_dist "
    "over a (lang)-partitioned quality ordering, deterministic via the "
    "doc_id tiebreak. Partitioning by lang keeps every window "
    "shard-sized. For a single giant stratum at 100 TB the exact "
    "global sort becomes the bottleneck — the swap is "
    "percentile_approx decile BOUNDARIES (constant sketch state) "
    "broadcast into a map-side bucket assignment, trading exact decile "
    "cardinality for a shuffle-free plan (same trade as "
    "quality_percentile_filter_approx).",
)
def q_sample_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", tokens_col(F.col("text")).alias("toks"))
    stop_ratio = _hits(F.col("toks"), STOPWORDS).cast("double") / F.size("toks")
    sc = toks.select(
        "doc_id",
        "lang",
        F.round(
            F.least(F.lit(1.0), F.size("toks") / F.lit(100.0)) * (F.lit(1.0) - stop_ratio),
            4,
        ).alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("quality").asc(), F.col("doc_id").asc())
    return sc.select(
        "doc_id",
        "lang",
        "quality",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
    )


BPE_MERGES = 3


def _bpe_ctes() -> list[str]:
    ctes = [
        f"""words AS (
      SELECT tok AS word, count(*) AS n
      FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
      GROUP BY tok
    )""",
        """s0 AS (
      SELECT word, n, '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS sym
      FROM words
    )""",
    ]
    for k in range(1, BPE_MERGES + 1):
        ctes.append(f"""p{k} AS (
      SELECT pr.a AS a, pr.b AS b, CAST(sum(n) AS BIGINT) AS cnt FROM (
        SELECT n, unnest(list_transform(range(2, len(arr) - 1),
               i -> {{'a': arr[i], 'b': arr[i+1]}})) AS pr
        FROM (SELECT n, string_split(sym, '|') AS arr FROM s{k - 1})
      ) GROUP BY pr.a, pr.b
    )""")
        ctes.append(f"""t{k} AS (
      SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    )""")
        ctes.append(f"""s{k} AS (
      SELECT word, n,
             replace(sym, '|' || t.a || '|' || t.b || '|',
                          '|' || t.a || t.b || '|') AS sym
      FROM s{k - 1}, t{k} t
    )""")
    return ctes


def _bpe_oracle() -> str:
    unions = "\n      UNION ALL ".join(
        f"SELECT {k} AS merge_rank, a, b, a || b AS merged, cnt FROM t{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return (
        "WITH " + ",\n    ".join(_bpe_ctes()) + f"""
    SELECT merge_rank, a, b, merged, cnt FROM ({unions})
    ORDER BY merge_rank
    """
    )


def _bpe_encode_oracle() -> str:
    ctes = _bpe_ctes() + [
        f"""enc AS (
      SELECT word, CAST(len(string_split(sym, '|')) - 2 AS BIGINT) AS n_sym
      FROM s{BPE_MERGES}
    )""",
        f"""doctok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS word FROM documents
    )""",
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + """
    SELECT doc_id, count(*) AS n_words,
           CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens
    FROM doctok JOIN enc USING (word)
    GROUP BY doc_id
    """
    )


@register(
    "tokenizer_bpe_train",
    oracle=_bpe_oracle(),
    doc=f"Distributed BPE tokenizer training — {BPE_MERGES} merge rounds "
    "of the byte-pair-encoding loop over the corpus word-frequency "
    "table: count adjacent symbol pairs (weighted by word frequency), "
    "pick the most frequent, merge it everywhere, repeat. Entirely "
    "DataFrame ops, no driver-side state: words live as "
    "'|'-delimited symbol strings, pair counting is the standard "
    "posexplode+element_at bigram pass over the split symbols, the "
    "winning pair is a 1-row broadcast (orderBy+limit inside the "
    "lineage, never collected), and the merge itself is a literal "
    "string replace — SQL replace() is left-to-right non-overlapping "
    "in both engines, which IS BPE's greedy merge semantics. At "
    "100 TB the loop runs on the word-frequency table (vocabulary-"
    "sized, shrinks per merge), not the corpus: one corpus pass "
    "builds the word counts, then training cost is independent of "
    "corpus size — the reason real BPE trainers all work this way. "
    "Output: the learned merge table (rank, pair, merged symbol, "
    "weighted count).",
)
def q_tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    _state, merges = _bpe_train(spark, sf_dir)
    return merges.orderBy("merge_rank")


def _bpe_train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Run the BPE merge loop; returns (trained word-state, merge table).

    state: (word, n, sym) with sym the '|'-delimited symbol string after
    all merges; merges: (merge_rank, a, b, merged, cnt)."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    state = words.select(
        "word",
        "n",
        F.concat(F.lit("|"), F.regexp_replace("word", "(.)", "$1|")).alias("sym"),
    )
    merges = None
    for k in range(1, BPE_MERGES + 1):
        # Linearize the merge-loop lineage (r15): each round references
        # the previous state TWICE (the winning-pair aggregate and the
        # merge map), so left lazy the final plan duplicates every
        # earlier round's subtree 2^k times — measured 123 physical ops
        # / 9 parquet scans / 7 TakeOrderedAndProject for the 3-round
        # encode. Materializing the (vocabulary-sized, shrinking) state
        # once per round makes the lineage linear: round 1 pays the one
        # corpus pass, later rounds are vocab-sized map+aggregate jobs,
        # and the final plan reads the last checkpoint. Values are
        # unchanged — this is pure plan shape.
        state = state.localCheckpoint(eager=True)
        arr = state.select("n", F.split("sym", r"\|").alias("arr"))
        ex = arr.select(
            "n", F.size("arr").alias("m"), "arr", F.posexplode("arr").alias("pos", "s")
        )
        # split('|a|b|') -> ['', 'a', 'b', '']: symbols sit at 0-based
        # positions 1..m-2, pairs start at 1..m-3
        pairs = ex.filter((F.col("pos") >= 1) & (F.col("pos") <= F.col("m") - 3)).select(
            "n",
            F.col("s").alias("a"),
            F.element_at("arr", F.col("pos") + 2).alias("b"),
        )
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
        )
        state = (
            state.crossJoin(F.broadcast(top))
            .select(
                "word",
                "n",
                F.expr(
                    "replace(sym, '|' || a || '|' || b || '|', '|' || a || b || '|')"
                ).alias("sym"),
            )
        )
        rec = top.select(
            F.lit(k).alias("merge_rank"),
            "a",
            "b",
            F.concat("a", "b").alias("merged"),
            "cnt",
        )
        merges = rec if merges is None else merges.unionByName(rec)
    return state, merges


@register(
    "tokenizer_bpe_encode",
    oracle=_bpe_encode_oracle(),
    doc="BPE tokenization APPLY — the companion to tokenizer_bpe_train: "
    "count each document's tokens under the learned merges, the number "
    "every training-data budget ('how many tokens is this corpus?') "
    "actually means. The trained per-word symbol counts form a "
    "vocabulary-sized map joined on the word — NO broadcast hint, so "
    "AQE broadcasts it at test scale and shuffles it at 100 TB where "
    "a distinct-word table no longer fits executor memory; corpus-"
    "scale work is one join plus a per-doc aggregate regardless of "
    "merge count. (True encode-to-ids emits the symbol array instead "
    "of its size; same join, wider payload.)",
)
def q_tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    state, _merges = _bpe_train(spark, sf_dir)
    enc = state.select(
        "word", (F.size(F.split("sym", r"\|")) - 2).cast("bigint").alias("n_sym")
    )
    d = load_table(spark, sf_dir, "documents")
    doctok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("word"))
    return (
        doctok.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


SEQ_BUDGET = 256  # tokens per packed training sequence
PACK_SHARDS = 8


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
             CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST((cum - n_tokens) // {SEQ_BUDGET} AS BIGINT) AS start_seq,
           CAST((cum - 1) // {SEQ_BUDGET} AS BIGINT) AS end_seq,
           CAST((cum - n_tokens) % {SEQ_BUDGET} AS BIGINT) AS seq_offset
    FROM c
    """,
    doc=f"Sequence packing index — concat-and-chunk packing for LLM "
    f"pretraining: per shard, documents concatenate in deterministic "
    f"doc_id order and split every {SEQ_BUDGET} tokens (documents may "
    "straddle sequence boundaries — the standard pretraining packing, "
    "zero padding waste). The output is the reader's index: which "
    "packed sequence(s) each document lands in and at what offset. "
    "One running-sum window per shard — parallelism = shard count "
    f"(here {PACK_SHARDS}; production: thousands), each shard's "
    "window is a single ordered pass. Integer arithmetic only, so "
    "the index is bit-identical across engines and re-runs; swap the "
    "doc_id order for the epoch-seeded hash (shuffle_epoch_sample) "
    "for per-epoch repacking, same plan.",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(tokens_col(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    # `div` = exact BIGINT division (float `/`+floor would misround once
    # cumulative token counts approach 2^53 — real at 100 TB)
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr(f"(cum - n_tokens) div {SEQ_BUDGET}").alias("start_seq"),
        F.expr(f"(cum - 1) div {SEQ_BUDGET}").alias("end_seq"),
        ((F.col("cum") - F.col("n_tokens")) % SEQ_BUDGET)
        .cast("bigint")
        .alias("seq_offset"),
    )


# ----------------------------------------------------------- inverted index
@register(
    "text_inverted_index",
    oracle=f"""
    WITH postings AS (
      SELECT DISTINCT doc_id, unnest({_TOKENS_SQL}) AS term
      FROM documents
    ),
    idx AS (
      SELECT term,
             CAST(count(*) AS BIGINT) AS doc_freq,
             array_to_string(list_sort(list(doc_id))[1:20], ',') AS posting_prefix
      FROM postings
      WHERE length(term) >= 3
      GROUP BY term
    )
    SELECT term, doc_freq, posting_prefix
    FROM idx
    WHERE doc_freq >= 25
    """,
    doc="IR inverted index build: term -> document frequency + sorted "
    "posting list (first 20 doc ids; emitted as a CSV string because "
    "the full posting list is unbounded and array outputs defeat the "
    "driver's row canonicalizer). tokenize -> per-doc term dedup -> "
    "one term-key aggregate. At 100 TB: per-doc dedup happens "
    "MAP-SIDE (array_distinct on the token array before the explode — "
    "a dropDuplicates(doc_id, term) would add a second full-postings "
    "shuffle on a different key); the postings then shuffle ONCE on "
    "term for a row_number window that rank-limits each posting list "
    "to 20 BEFORE aggregation, so the collect_list buffer holds at "
    "most 20 ids per term no matter how hot the term is (a stopword "
    "with billions of postings sorts spillably in the window operator "
    "instead of accumulating in an in-memory agg buffer), and the "
    "follow-on groupBy reuses the window's hash partitioning on term "
    "— no second shuffle. Full postings would be range-sharded per "
    "term (term, shard_id) the same way sketch_hll_mergeable shards "
    "its registers.",
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    terms = F.array_distinct(F.filter(tokens_col(F.col("text")), lambda t: F.length(t) >= 3))
    base = d.select("doc_id", terms.alias("tk"))
    postings = base.select("doc_id", F.explode("tk").alias("term"))
    ranked = postings.withColumn(
        "rn", F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    )
    return (
        ranked.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("doc_freq"),
            F.concat_ws(
                ",",
                F.sort_array(F.collect_list(F.when(F.col("rn") <= 20, F.col("doc_id")))),
            ).alias("posting_prefix"),
        )
        .filter(F.col("doc_freq") >= 25)
    )


# --------------------------------------------------------- PMI collocations
_PMI_MIN_COUNT = 30


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (SELECT {_TOKENS_SQL} AS tk FROM documents),
    uni AS (
      SELECT unnest(tk) AS w FROM toks
    ),
    uni_counts AS (
      SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w
    ),
    n_total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
    bi AS (
      SELECT unnest(list_transform(range(1, len(tk)), i -> [tk[i], tk[i + 1]])) AS pair
      FROM toks
    ),
    bi_counts AS (
      SELECT pair[1] AS w1, pair[2] AS w2, CAST(count(*) AS BIGINT) AS c_xy
      FROM bi GROUP BY pair[1], pair[2]
    )
    SELECT b.w1, b.w2, b.c_xy,
           round(ln(CAST(b.c_xy AS DOUBLE) * t.n
                    / (CAST(u1.c AS DOUBLE) * u2.c)), 4) AS pmi
    FROM bi_counts b
    JOIN uni_counts u1 ON b.w1 = u1.w
    JOIN uni_counts u2 ON b.w2 = u2.w
    CROSS JOIN n_total t
    WHERE b.c_xy >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, b.w1, b.w2
    LIMIT 25
    """,
    doc="PMI collocation mining: pointwise mutual information "
    "ln(c_xy * N / (c_x * c_y)) over adjacent word pairs, floored at "
    f"{_PMI_MIN_COUNT} occurrences, top-25 by PMI (deterministic "
    "word tiebreak). Two aggregates (unigram, bigram) + two BROADCAST "
    "joins of the bigram table against the unigram counts — at corpus "
    "scale the unigram vocabulary is orders of magnitude smaller than "
    "the bigram table, so the big side never shuffles for the joins "
    "(only for its own count), and N rides a 1-row cross join. Same "
    "natural-log + round(4) on both engines keeps the hash exact.",
)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select(tokens_col(F.col("text")).alias("tk"))
    uni = base.select(F.explode("tk").alias("w"))
    uni_counts = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # total tokens = sum over the Zipf-bounded vocabulary table — no
    # second corpus-wide explode+count pass
    n_total = uni_counts.agg(F.sum("c").alias("n"))

    ex = base.select(F.size("tk").alias("n"), "tk", F.posexplode("tk").alias("pos", "tok"))
    bi_counts = (
        ex.filter(F.col("pos") <= F.col("n") - 2)
        .select(F.col("tok").alias("w1"), F.element_at("tk", F.col("pos") + 2).alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
    )
    u1 = uni_counts.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni_counts.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = (
        bi_counts.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            "c_xy",
            F.round(
                # c1*c2 as DOUBLE: a BIGINT product overflows (silently,
                # with ANSI off) once two stopwords each clear ~3e9
                # occurrences; doubles are exact below 2^53 so the hash
                # is unchanged at test scale
                F.log(
                    F.col("c_xy").cast("double")
                    * F.col("n")
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return pmi.orderBy(F.col("pmi").desc(), "w1", "w2").limit(25)


# --------------------------------------------- temperature mixture sampling
# temperature exponent is FIXED at 0.5: both engines compute sqrt() (exact
# IEEE op) rather than pow(n, alpha) whose libm rounding differs; changing
# the exponent means changing sqrt to pow in BOTH the Spark plan and oracle
MIX_ALPHA = 0.5
MIX_BUDGET_FRAC = 0.5  # sample half the corpus into the mix


@register(
    "sample_temperature_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(sqrt(cnt)) AS z, sum(cnt) AS n FROM counts),
    rates AS (
      SELECT source,
             least(1.0, (sqrt(cnt) / z) * ({MIX_BUDGET_FRAC} * n) / cnt) AS rate
      FROM counts, tot
    )
    SELECT d.doc_id, d.source, round({_LB_U_SQL}, 6) AS u
    FROM documents d JOIN rates r USING (source)
    WHERE {_LB_U_SQL} < r.rate
    """,
    doc=f"Temperature-reweighted training mix (share_d ∝ n_d^{MIX_ALPHA}, "
    f"budget {MIX_BUDGET_FRAC} of the corpus): the standard multilingual/"
    "multi-domain rebalance — low-resource sources are UP-weighted "
    "relative to their natural share, high-resource ones down-sampled. "
    "Same scale shape as sample_language_balanced: per-source keep "
    "rates from a broadcast-sized source-cardinality aggregate, then a "
    "map-side filter on the deterministic integer-hash uniform — the "
    "corpus itself never shuffles. Rates cap at 1.0 (within-epoch "
    "up-sampling is the epoch scheduler's job, cf. "
    "shuffle_epoch_sample); sqrt is IEEE-exact in both engines so the "
    "keep decision is bit-stable.",
)
def q_sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(
        F.sum(F.sqrt(F.col("cnt"))).alias("z"), F.sum("cnt").alias("n")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            (F.sqrt(F.col("cnt")) / F.col("z"))
            * (F.lit(MIX_BUDGET_FRAC) * F.col("n"))
            / F.col("cnt"),
        ).alias("rate"),
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(_lb_u() < F.col("rate"))
        .select("doc_id", "source", F.round(_lb_u(), 6).alias("u"))
    )


# ------------------------------------------------- heavy hitters (Misra-Gries)
MG_CAPACITY = 256  # summary counters per partition
MG_FRAC = 0.02  # report tokens with freq >= 2% of the corpus token stream
# exactness guarantee: a token with global freq > N/(C+1) survives at
# least one partition summary (pigeonhole over partition substreams), so
# C = 256 >= 1/MG_FRAC - 1 makes the candidate set a superset of every
# token at or above the reporting threshold.


def _mg_summaries(batches):
    """Per-partition Misra-Gries summary: at most MG_CAPACITY counters,
    whole-partition stream folded across Arrow batches, one tiny output
    frame per partition. Tokenization matches the exact recount stream
    EXACTLY (space-only strip like F.trim, ASCII \\s split like the
    Java regex, empty tokens KEPT) — the superset guarantee the
    algorithm rests on requires the candidate stream to see every token
    the exact side counts, including '' from whitespace-only docs."""
    import re

    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in batches:
        for text in pdf["text"]:
            if text is None:
                continue  # explode(tokens_col(NULL)) emits nothing
            for tok in re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ")):
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < MG_CAPACITY:
                    counters[tok] = 1
                else:
                    counters = {k: v - 1 for k, v in counters.items() if v > 1}
    yield pd.DataFrame(
        {"token": list(counters.keys()), "mg_count": list(counters.values())}
    )


@register(
    "text_heavy_hitters_mg",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOKENS_SQL}) AS token FROM documents),
    n AS (SELECT count(*) AS total FROM tok)
    SELECT token, CAST(count(*) AS BIGINT) AS freq
    FROM tok, n
    GROUP BY token, n.total
    HAVING count(*) >= n.total * {MG_FRAC}
    """,
    doc="Corpus heavy hitters via Misra-Gries + exact recount — the "
    "bounded-memory alternative to a full-vocabulary word count. A "
    "plain groupBy(token) carries hash-agg state proportional to the "
    "DISTINCT vocabulary per task (web-scale corpora: hundreds of "
    "millions of typo-laden tokens — the classic executor-OOM agg); "
    "here each partition folds its token stream through at most "
    f"{MG_CAPACITY} counters inside one Arrow mapInPandas pass, only "
    f"the <={MG_CAPACITY}-row summaries leave the executors, and the "
    "union of summary keys (guaranteed superset of every token at or "
    f"above {MG_FRAC:.0%} of the stream) is broadcast back for an "
    "EXACT recount restricted to candidates — map-side partial "
    "aggregation state is bounded by the candidate count, not the "
    "vocabulary. Output is exact counts of exactly the at-threshold "
    "tokens, so the nondeterministic MG internals never reach the "
    "result and the oracle is the plain exact query. The 1-row total "
    "for the threshold rides a broadcast join, not a driver collect.",
)
def q_text_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    summ = d.select("text").mapInPandas(_mg_summaries, "token string, mg_count long")
    cands = summ.select("token").distinct()
    tok = d.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    n = tok.agg(F.count(F.lit(1)).alias("total"))
    counts = (
        tok.join(F.broadcast(cands), "token", "semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        counts.crossJoin(F.broadcast(n))
        .filter(F.col("freq") >= F.col("total") * F.lit(MG_FRAC))
        .select("token", "freq")
    )


# --------------------------------------------- weighted priority sampling
WEIGHTED_SAMPLE_K = 50
_HEX12_FOLD_SQL = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(range(1, 13), "
    "i -> CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS DOUBLE))), "
    "(acc, d) -> acc * 16 + d)"
)


@register(
    "sample_weighted_priority",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    q AS (
      SELECT doc_id,
             least(1.0, len(toks) / 100.0)
               * (1.0 - CAST({_hits_sql(STOPWORDS)} AS DOUBLE) / len(toks)) AS w
      FROM t
    ),
    keyed AS (
      SELECT doc_id, w,
             ln({_HEX12_FOLD_SQL} / 281474976710656.0) / w AS k
      FROM q WHERE w > 0
    )
    SELECT doc_id, round(w, 4) AS weight
    FROM keyed
    ORDER BY k DESC, doc_id ASC
    LIMIT {WEIGHTED_SAMPLE_K}
    """,
    doc="Quality-WEIGHTED sampling without replacement (Efraimidis-"
    "Spirakis A-ES): each doc draws a deterministic uniform u from "
    "md5(doc_id) (first 12 hex nibbles folded to an exact 48-bit "
    "integer — portable to the oracle, unlike engine-internal RNGs) "
    "and is ranked by ln(u)/w; the top-k of that key IS a weighted "
    "sample without replacement, so high-quality docs are "
    "proportionally favored while every doc keeps a nonzero chance — "
    "the standard corpus-mix primitive between hard quality filtering "
    "(loses diversity) and uniform sampling (wastes budget on junk). "
    "Plan: map-only key computation, TakeOrdered top-k, no shuffle "
    "beyond the k-row merge; reweighting an epoch is a new salt on "
    "the md5. Key comparisons use the raw doubles (single-expression "
    "per row, bit-identical cross-engine); only the reported weight "
    "is rounded.",
)
def q_sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    stop_ratio = _hits(F.col("toks"), STOPWORDS).cast("double") / F.size("toks")
    q = t.select(
        "doc_id",
        (
            F.least(F.lit(1.0), F.size("toks") / F.lit(100.0))
            * (F.lit(1.0) - stop_ratio)
        ).alias("w"),
    ).filter(F.col("w") > 0)
    # conv() parses the 12-hex-digit prefix to an exact decimal string;
    # the value is < 2^48, so the double cast is exact — same integer
    # the oracle's fold produces
    u = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS DOUBLE)"
        " / 281474976710656.0"
    )
    keyed = q.withColumn("k", F.log(u) / F.col("w"))
    return (
        keyed.orderBy(F.col("k").desc(), F.col("doc_id").asc())
        .limit(WEIGHTED_SAMPLE_K)
        .select("doc_id", F.round("w", 4).alias("weight"))
    )


# ------------------------------------------------- cleaning / normalization
@register(
    "text_unicode_normalize",
    oracle="""
    WITH inj AS (
      SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS t FROM documents
    )
    SELECT doc_id,
           length(t) AS n_raw,
           length(nfc_normalize(t)) AS n_nfc,
           md5(nfc_normalize(t)) AS checksum
    FROM inj
    """,
    doc="Unicode NFC normalization — the first step of every web-scale "
    "text pipeline (mojibake and combining-sequence variants defeat "
    "exact dedup and tokenizer vocabularies unless the corpus is "
    "canonicalized first). The corpus is ASCII, so the query plants "
    "combining acute accents (U+0301 after every 'e') with a pure-JVM "
    "replace, then canonicalizes. Spark has no built-in normalizer, so "
    "this is the one legitimately UDF-shaped text op: a vectorized "
    "pandas_udf over Arrow batches (pandas Series.str.normalize), never "
    "row-at-a-time Python. Plan: map-only — no shuffle at any scale; "
    "the UDF cost is a per-batch Arrow hop on exactly one column. "
    "Cross-engine: CPython's unicodedata and DuckDB's utf8proc both "
    "implement standard NFC, and md5-of-UTF-8 pins byte equality, not "
    "just length equality. Verified: n_raw > n_nfc wherever an 'e' "
    "existed (the e+combining pair recomposes to precomposed é).",
)
def q_text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    inj = d.select(
        "doc_id",
        F.replace(F.col("text"), F.lit("e"), F.lit("é")).alias("t"),
    )

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.str.normalize("NFC")

    n = inj.select("doc_id", F.length("t").alias("n_raw"), nfc("t").alias("s"))
    return n.select(
        "doc_id",
        "n_raw",
        F.length("s").alias("n_nfc"),
        F.md5(F.encode(F.col("s"), "UTF-8")).alias("checksum"),
    )


@register(
    "text_strip_html",
    oracle="""
    WITH h AS (
      SELECT doc_id, text,
             '<html><body><p>' || replace(text, 'the', '<b>the</b>')
               || '</p><br/></body></html>' AS html
      FROM documents
    ),
    s AS (
      SELECT doc_id, text,
             trim(regexp_replace(regexp_replace(html, '<[^>]*>', ' ', 'g'),
                                 ' +', ' ', 'g')) AS cleaned
      FROM h
    )
    SELECT doc_id,
           length(cleaned) AS n_chars_clean,
           substring(cleaned, 1, 60) AS clean_prefix,
           cleaned = trim(text) AS matches_original
    FROM s
    """,
    doc="C4-style HTML boilerplate stripping: markup tags removed with "
    "one regex pass, whitespace re-collapsed, result trimmed. The "
    "corpus is plain text, so the query first wraps each document in a "
    "deterministic tag skeleton (outer html/body/p plus inline <b> "
    "around every 'the') and then must recover the original text "
    "exactly — `matches_original` is the self-check and is true for "
    "every single-spaced document. Plan: two regexp_replace maps, "
    "zero shuffles, whole-stage codegen end to end; at 100 TB this is "
    "embarrassingly parallel scan work. The tag pattern '<[^>]*>' and "
    "the collapse pattern ' +' parse identically in Java regex and "
    "RE2, so the oracle twin is byte-equivalent.",
)
def q_text_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><p>"),
        F.replace(F.col("text"), F.lit("the"), F.lit("<b>the</b>")),
        F.lit("</p><br/></body></html>"),
    )
    cleaned = F.trim(
        F.regexp_replace(F.regexp_replace(html, "<[^>]*>", " "), " +", " ")
    )
    return d.select(
        "doc_id",
        F.length(cleaned).alias("n_chars_clean"),
        F.substring(cleaned, 1, 60).alias("clean_prefix"),
        (cleaned == F.trim(F.col("text"))).alias("matches_original"),
    )


@register(
    "vocab_id_assign",
    oracle=f"""
    WITH t AS (SELECT {_TOKENS_SQL} AS toks FROM documents),
    v AS (SELECT unnest(toks) AS token FROM t),
    c AS (SELECT token, count(*) AS freq FROM v GROUP BY token)
    SELECT token, freq,
           row_number() OVER (ORDER BY freq DESC, token ASC) - 1 AS vocab_id
    FROM c
    """,
    doc="Contiguous vocabulary ID assignment by corpus frequency — the "
    "step that turns a trained tokenizer's merge table into the dense "
    "int ids a model embeds (id 0 = most frequent, ties broken "
    "lexically so the mapping is reproducible across runs). Plan: "
    "token counting is the usual explode -> partial/final hash "
    "aggregate (the only full shuffle, keyed on token); the "
    "row_number then runs over the AGGREGATED vocabulary, which by "
    "Zipf's law is ~1e6 rows even at 100 TB of text, so the "
    "single-partition global sort-window is over the small derived "
    "table, never the corpus. Contiguity requires a total order, so "
    "that bounded single-partition step is inherent to the op, not "
    "an accident of the implementation.",
)
def q_vocab_id_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    c = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    return c.select(
        "token", "freq", (F.row_number().over(w) - 1).alias("vocab_id")
    )


# ------------------------------------------- trained quality classifier
LR_ITERS = 15
LR_RATE = 2.0

_LR_FEAT_SQL = """
    feat AS (
      SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                   / greatest(length(text), 1), 6) AS x1,
             round(CAST(length(regexp_replace(text, '[^aeiouAEIOU]', '', 'g')) AS DOUBLE)
                   / greatest(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')), 1), 6) AS x2,
             round(ln(1.0 + length(text)) / 10, 6) AS x3
      FROM documents
    )"""


def _lr_oracle() -> str:
    ctes = [_LR_FEAT_SQL, "w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c, 0.0 AS d)"]
    for i in range(LR_ITERS):
        ctes.append(f"""
    s{i} AS (
      SELECT f.y, f.x1, f.x2, f.x3, w.a, w.b, w.c, w.d,
             1.0 / (1.0 + exp(-(w.a + w.b * f.x1 + w.c * f.x2 + w.d * f.x3))) AS p
      FROM feat f CROSS JOIN w{i} w
    ),
    w{i + 1} AS (
      SELECT round(max(a) - {LR_RATE} * sum(p - y) / count(*), 6) AS a,
             round(max(b) - {LR_RATE} * sum((p - y) * x1) / count(*), 6) AS b,
             round(max(c) - {LR_RATE} * sum((p - y) * x2) / count(*), 6) AS c,
             round(max(d) - {LR_RATE} * sum((p - y) * x3) / count(*), 6) AS d
      FROM s{i}
    )""")
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT max(w.a) AS w_bias, max(w.b) AS w_alpha_frac,
           max(w.c) AS w_vowel_frac, max(w.d) AS w_log_len,
           CAST(sum(CASE WHEN ((w.a + w.b * f.x1 + w.c * f.x2 + w.d * f.x3) > 0)
                              = (f.y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM feat f CROSS JOIN w{LR_ITERS} w
    """
    )


@register(
    "quality_lr_classifier",
    oracle=_lr_oracle(),
    doc=f"Trained quality/language classifier — full-batch logistic "
    f"regression, {LR_ITERS} gradient-descent iterations (lr={LR_RATE}), "
    "the fastText-style linear-filter stage real curation pipelines "
    "train over cheap surface features (GPT-3's quality filter was "
    "exactly this shape). Features: alpha fraction, vowel fraction, "
    "log-length — all map-side string ops rounded 6dp so both engines "
    "train on bit-identical inputs. Each iteration is ONE broadcast of "
    "the 4-number weight row + ONE partial->final gradient aggregate "
    "(sum((p-y)*x_j)/n); weights round to 6dp per update, pinning the "
    "whole trajectory cross-engine exactly like kmeans_lloyd's "
    "centroid state. The accuracy predicate (z > 0) is an inner "
    "product of 6dp-rounded values with a fixed evaluation order, so "
    "the count is knife-edge-free. At 100 TB: model state is O(1), "
    "per-iteration cost is one corpus scan with a 4-double aggregate "
    "— mini-batching or L-BFGS changes the step rule, not the plan "
    "shape. The DuckDB oracle replays the full training loop in "
    "chained CTEs.",
)
def q_quality_lr_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    alpha_len = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    feat = d.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        F.round(
            alpha_len.cast("double") / F.greatest(F.length("text"), F.lit(1)), 6
        ).alias("x1"),
        F.round(
            F.length(F.regexp_replace("text", "[^aeiouAEIOU]", "")).cast("double")
            / F.greatest(alpha_len, F.lit(1)),
            6,
        ).alias("x2"),
        F.round(F.log(1.0 + F.length("text")) / 10, 6).alias("x3"),
    )
    # features are read once and reused by every GD iteration (4 doubles
    # per doc); the per-iteration weight checkpoint keeps the plan depth
    # CONSTANT instead of growing with the iteration count — without it
    # iteration k's lazy plan embeds all k-1 predecessors and analysis
    # time dominates (measured 9s -> ~1s at sf0.01). 1 row, never
    # driver-collected. At 100 TB the checkpoint becomes a table write,
    # same as the k-means centroid state. The coalesce sizes the
    # checkpointed feature table to the data (4 doubles/doc), not to
    # the source file count — 15 iterations x 32 near-empty tasks is
    # pure scheduler overhead at bench scale; a cluster run sizes this
    # by bytes exactly like every compaction in sources/maintenance.py.
    feat = feat.coalesce(4).localCheckpoint(eager=True)

    # The 4-number weight state lives on the DRIVER between iterations —
    # the standard distributed-GD layout (spark.ml's LBFGS holds the
    # coefficient vector on the driver and treeAggregates gradients the
    # same way): state is O(model), gradients are one partial->final
    # aggregate per step, nothing corpus-sized ever leaves the
    # executors. The 1-row collect per iteration is the same class as
    # the connected-components convergence probe (dedup.py). The
    # rounding stays INSIDE the Spark expression, so the update
    # arithmetic is bit-identical to the oracle's CTE chain; driver
    # transport of the already-rounded doubles is exact.
    def z_of(wa: float, wb: float, wc: float, wd: float):
        return (
            F.lit(wa)
            + F.lit(wb) * F.col("x1")
            + F.lit(wc) * F.col("x2")
            + F.lit(wd) * F.col("x3")
        )

    n = F.count(F.lit(1))
    wa = wb = wc = wd = 0.0
    for _ in range(LR_ITERS):
        p = 1.0 / (1.0 + F.exp(-z_of(wa, wb, wc, wd)))
        g = F.col("p") - F.col("y")
        row = (
            feat.withColumn("p", p)
            .agg(
                F.round(F.lit(wa) - LR_RATE * F.sum(g) / n, 6).alias("a"),
                F.round(F.lit(wb) - LR_RATE * F.sum(g * F.col("x1")) / n, 6).alias("b"),
                F.round(F.lit(wc) - LR_RATE * F.sum(g * F.col("x2")) / n, 6).alias("c"),
                F.round(F.lit(wd) - LR_RATE * F.sum(g * F.col("x3")) / n, 6).alias("d"),
            )
            .collect()[0]
        )
        wa, wb, wc, wd = row["a"], row["b"], row["c"], row["d"]
    zf = z_of(wa, wb, wc, wd)
    correct = ((zf > 0) == (F.col("y") == 1.0)).cast("int")
    return feat.agg(
        F.max(F.lit(wa)).alias("w_bias"),
        F.max(F.lit(wb)).alias("w_alpha_frac"),
        F.max(F.lit(wc)).alias("w_vowel_frac"),
        F.max(F.lit(wd)).alias("w_log_len"),
        F.sum(correct).cast("bigint").alias("n_correct"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )


# --------------------------------------- sparse tf-idf cosine similarity
SPARSE_DF_FRAC = 0.02  # prune terms appearing in >2% of docs (stopword tail)


@register(
    "sim_sparse_tfidf_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks, trim(text) AS txt FROM documents),
    tok AS (
      SELECT doc_id, unnest(
        CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [txt] END) AS term
      FROM t
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    kept AS (
      SELECT tf.doc_id, tf.term, df.df,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS w
      FROM tf JOIN df USING (term) CROSS JOIN n
      WHERE df.df <= greatest(2, n.n_docs * {SPARSE_DF_FRAC})
    ),
    nrm AS (
      SELECT doc_id, round(sqrt(sum(w * w)), 6) AS nrm FROM kept GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      FROM kept a JOIN kept b
        ON a.term = b.term AND a.doc_id < b.doc_id
      WHERE a.df >= 2 AND b.df >= 2
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_a, d.doc_b,
           round(d.dot / (x.nrm * y.nrm), 6) AS cosine
    FROM dots d JOIN nrm x ON d.doc_a = x.doc_id
                JOIN nrm y ON d.doc_b = y.doc_id
    ORDER BY cosine DESC, doc_a ASC, doc_b ASC
    LIMIT 50
    """,
    doc="Sparse-vector cosine similarity in tf-idf space via an "
    "INVERTED-INDEX self-join over 3-gram shingles (the shingle "
    "multiset is the sparse dimension — unigrams are useless on a "
    "bounded vocabulary, and at corpus scale shingles are what "
    "near-dup scoring keys on anyway) — the lexical complement of "
    "the dense embedding path (sim_cosine_topk): docs sharing no "
    "shingle never meet, so the pair stream is O(sum_t df_t^2) over "
    f"the PRUNED vocabulary, never O(n^2). The df <= {SPARSE_DF_FRAC}"
    " * N cut drops the boilerplate tail before the join — the same "
    "hot-key discipline as the LSH band cap (a corpus-wide shingle "
    "would otherwise form a quadratic bucket); df=1 shingles still "
    "count toward norms (semantics) but are skipped by the pair "
    "join (they cannot produce a pair). Shuffles: (doc,shingle) tf "
    "agg, shingle-keyed pair join, pair-keyed dot agg — each on the "
    "natural key. Weights round 6dp pre-join so both engines dot "
    "identical values; the bounded per-pair overlap keeps the 6dp "
    "cosine round fold-order-safe. At 100 TB this IS the BM25/"
    "dup-candidate scorer: the inverted index is the stored "
    "artifact and the prefix-filter family (dedup_jaccard_"
    "prefix_filter) bounds the same join harder when thresholds "
    "allow.",
)
def q_sim_sparse_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import exploded_shingles  # runtime import (dedup imports text)

    d = load_table_parallel(spark, sf_dir, "documents")
    tok = d.transform(exploded_shingles).select("doc_id", F.col("s").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # r16 measured-and-REVERTED: deriving df from tf (count rows per
    # term == count distinct docs per term) looked like it should drop
    # one corpus explode, but count_distinct already plans as the same
    # (term, doc_id)-keyed dedup+count with map-side partials, and the
    # derived form's pruned-tf subtree (no count function) defeats
    # ReuseExchange against the real tf branch — two corpus explodes +
    # two wide exchanges. Cross-commit A/B lost all 3 pairs
    # (1.55/1.85/1.85 s -> 2.65/4.84/6.57 s at sf0.1); the direct
    # count_distinct stands.
    df = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    kept = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("df") <= F.greatest(F.lit(2.0), F.col("n_docs") * SPARSE_DF_FRAC))
        .select(
            "doc_id",
            "term",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("w"),
        )
    )
    # feeds both the norm aggregate and both sides of the pair join
    kept = kept.localCheckpoint(eager=True)
    nrm = kept.groupBy("doc_id").agg(F.round(F.sqrt(F.sum(F.col("w") * F.col("w"))), 6).alias("nrm"))
    joinable = kept.filter(F.col("df") >= 2)
    a, b = joinable.alias("a"), joinable.alias("b")
    dots = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    x = nrm.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    y = nrm.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    return (
        dots.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("nrm_a") * F.col("nrm_b")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(50)
    )


@register(
    "corpus_token_ids",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    tok AS (
      SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                      i -> struct_pack(pos := i, tok := toks[i]))) AS u
        FROM t
      )
    ),
    freq AS (SELECT tok, count(*) AS f FROM tok GROUP BY tok),
    vocab AS (
      SELECT tok, CAST(row_number() OVER (ORDER BY f DESC, tok ASC) - 1 AS BIGINT)
             AS vocab_id
      FROM freq
    )
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           list(v.vocab_id ORDER BY tok.pos) AS token_ids
    FROM tok JOIN vocab v ON tok.tok = v.tok
    GROUP BY tok.doc_id
    ORDER BY tok.doc_id
    """,
    doc="Corpus integer-encoding: apply the frequency-ranked vocabulary "
    "(same ranking as vocab_id_assign) to every document, emitting "
    "the position-ordered id array — the tokenize->encode step that "
    "turns a text corpus into model-ready input. Plan: ONE "
    "posexplode token stream feeds both the vocabulary aggregate "
    "(Zipf-bounded, broadcast back) and the encode join, so the "
    "corpus is scanned once; the id arrays reassemble via "
    "array_sort(collect_list(struct(pos, id))) inside the per-doc "
    "agg buffer — bounded by document length, the same bound "
    "text_inverted_index enforces per term. The encode join is "
    "map-side (broadcast dictionary); only (doc_id, pos, id) "
    "triples ride the final shuffle. At 100 TB the vocabulary is "
    "the stored artifact and this query is the pure-encode pass "
    "over new data.",
)
def q_corpus_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    base = d.selectExpr("doc_id", r"split(trim(text), '\\s+') AS tk")
    tok = base.selectExpr("doc_id", "posexplode(tk) AS (pos0, tok)")
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.col("f").desc(), F.col("tok").asc())
    vocab = freq.select(
        "tok", (F.row_number().over(w) - 1).cast("bigint").alias("vocab_id")
    )
    return (
        tok.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.expr(
                "transform(array_sort(collect_list(struct(pos0, vocab_id))), "
                "x -> x.vocab_id)"
            ).alias("token_ids"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------- naive Bayes classifier
@register(
    "lang_nb_classifier",
    oracle=f"""
    WITH tok AS (
      SELECT d.doc_id, d.lang, t.tok
      FROM documents d, unnest({_TOKENS_SQL.replace('text', 'd.text')}) AS t(tok)
    ),
    langs AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    vocab AS (SELECT DISTINCT tok FROM tok),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    ltok AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM tok GROUP BY lang),
    ctl AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY lang, tok),
    model AS (
      SELECT l.lang, v.tok,
             ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE) / (lt.nl + vs.v)) AS logp
      FROM langs l CROSS JOIN vocab v CROSS JOIN vsize vs
      JOIN ltok lt ON lt.lang = l.lang
      LEFT JOIN ctl c ON c.lang = l.lang AND c.tok = v.tok
    ),
    dtok AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
    scores AS (
      SELECT dt.doc_id, m.lang,
             round(ln(CAST(l.n_docs AS DOUBLE) / t.n)
                   + sum(dt.c * m.logp), 6) AS score
      FROM dtok dt
      JOIN model m ON m.tok = dt.tok
      JOIN langs l ON l.lang = m.lang
      CROSS JOIN total t
      GROUP BY dt.doc_id, m.lang, l.n_docs, t.n
    ),
    pred AS (
      SELECT doc_id, lang AS pred_lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang ASC) AS rn
        FROM scores
      ) WHERE rn = 1
    )
    SELECT d.lang AS true_lang, p.pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY d.lang, p.pred_lang
    ORDER BY true_lang, pred_lang
    """,
    doc="Trained multinomial Naive Bayes language classifier — the "
    "count-based sibling of quality_lr_classifier: the model IS a pair "
    "of aggregates (per-language token counts + priors, Laplace "
    "smoothing (c+1)/(N_l+V)), so training is exactly-portable integer "
    "arithmetic and only the final log-space scoring touches floats. "
    "Scoring joins each document's token counts against the "
    "(vocabulary x language) log-likelihood grid — Zipf-bounded, "
    "broadcast at any corpus scale — sums per (doc, lang), rounds 6dp, "
    "and argmaxes with a language tiebreak so the decision is "
    "deterministic cross-engine. Output: the confusion matrix. At "
    "100 TB: training is two partial->final aggregates over the token "
    "stream; scoring is one broadcast join + one (doc,lang) aggregate. "
    "The NB/LR pair brackets the standard linear-classifier toolkit "
    "real curation stacks train (fastText-style).",
)
def q_lang_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # five consumers (vocab, vsize, ltok, ctl, dtok) read this stream —
    # materialize the tokenize+explode once (the text_lm_score /
    # sim_sparse_tfidf_pairs pattern, measured ~1.4x there)
    tok = d.select(
        "doc_id", "lang", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).localCheckpoint(eager=False)
    langs = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    total = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    vocab = tok.select("tok").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    ltok = tok.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("nl"))
    ctl = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    model = (
        # cross the UNBOUNDED vocabulary with the bounded language list —
        # broadcast the langs side (vocab at 100 TB is 1e8+ rows)
        vocab.crossJoin(F.broadcast(langs.select("lang")))
        .crossJoin(F.broadcast(vsize))
        .join(ltok, "lang")
        .join(ctl, ["lang", "tok"], "left")
        .select(
            "lang",
            "tok",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                / (F.col("nl") + F.col("v"))
            ).alias("logp"),
        )
    )
    dtok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    scores = (
        # model is |langs| x |V| — vocabulary-sized, so NO broadcast hint;
        # AQE broadcasts at test scale, shuffles at 100 TB
        dtok.join(model, "tok")
        .join(F.broadcast(langs), "lang")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "lang", "n_docs", "n")
        .agg(F.sum(F.col("c") * F.col("logp")).alias("s"))
        .select(
            "doc_id",
            "lang",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("n")) + F.col("s"), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang").asc())
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    return (
        d.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


@register(
    "chi2_feature_select",
    oracle=f"""
    WITH pres AS (
      SELECT DISTINCT d.doc_id, d.lang, t.tok
      FROM documents d, unnest({_TOKENS_SQL.replace('text', 'd.text')}) AS t(tok)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    nl AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM documents GROUP BY lang),
    dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM pres GROUP BY tok),
    atl AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS a FROM pres GROUP BY lang, tok),
    grid AS (
      SELECT l.lang, t.tok, l.nl, t.df, coalesce(x.a, 0) AS a, n.n
      FROM nl l CROSS JOIN dft t CROSS JOIN n
      LEFT JOIN atl x ON x.lang = l.lang AND x.tok = t.tok
    ),
    scored AS (
      SELECT lang, tok,
             round(CAST(n AS DOUBLE)
                   * (a * (n - df - nl + a) - (df - a) * (nl - a))
                   * (a * (n - df - nl + a) - (df - a) * (nl - a))
                   / (CAST(df AS DOUBLE) * (n - df) * nl * (n - nl)), 4) AS chi2
      FROM grid WHERE df > 0 AND df < n
    )
    SELECT lang, tok, chi2 FROM (
      SELECT lang, tok, chi2,
             row_number() OVER (PARTITION BY lang
                                ORDER BY chi2 DESC, tok ASC) AS rn
      FROM scored
    ) WHERE rn <= 5
    ORDER BY lang, chi2 DESC, tok
    """,
    doc="Chi-squared feature selection — which tokens are statistically "
    "associated with which language, the classical feature-ranking "
    "step in front of NB/LR text classifiers. The 2x2 contingency "
    "table per (token, language) is built from three integer "
    "aggregates (doc-presence per token, per language, per pair — "
    "zeros restored via the Zipf-bounded vocabulary x language grid), "
    "so chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) is a single "
    "deterministic double expression over exact integers, rounded "
    "BEFORE the per-language top-5 window so ranks can't flip "
    "cross-engine. One token-presence shuffle + broadcast grid "
    "joins; constant-degenerate tokens (df=0 or df=N) are excluded "
    "exactly in both engines.",
)
def q_chi2_feature_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    pres = d.select(
        "doc_id", "lang", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).distinct()
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    nl = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("nl"))
    dft = pres.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    atl = pres.groupBy("lang", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    grid = (
        # dft is vocabulary-sized: keep it as the probe side and broadcast
        # the bounded per-language counts instead
        dft.crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(n))
        .join(atl, ["lang", "tok"], "left")
        .select(
            "lang", "tok", "nl", "df", F.coalesce(F.col("a"), F.lit(0)).alias("a"), "n"
        )
    )
    det = F.col("a") * (F.col("n") - F.col("df") - F.col("nl") + F.col("a")) - (
        F.col("df") - F.col("a")
    ) * (F.col("nl") - F.col("a"))
    chi2 = F.round(
        F.col("n").cast("double")
        * det
        * det
        / (
            F.col("df").cast("double")
            * (F.col("n") - F.col("df"))
            * F.col("nl")
            * (F.col("n") - F.col("nl"))
        ),
        4,
    )
    scored = grid.filter((F.col("df") > 0) & (F.col("df") < F.col("n"))).select(
        "lang", "tok", chi2.alias("chi2")
    )
    w = Window.partitionBy("lang").orderBy(F.col("chi2").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "tok", "chi2")
        .orderBy("lang", F.col("chi2").desc(), "tok")
    )


VOCAB_TOP_K = 20


@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT d.source, t.tok
      FROM documents d, unnest({_TOKENS_SQL.replace('text', 'd.text')}) AS t(tok)
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok ASC) AS rn
        FROM tok GROUP BY tok
      ) WHERE rn <= {VOCAB_TOP_K}
    )
    SELECT tok.source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (vocab.tok IS NULL) AS BIGINT) AS n_oov,
           round(CAST(count(*) FILTER (vocab.tok IS NULL) AS DOUBLE)
                 / count(*), 6) AS oov_rate
    FROM tok LEFT JOIN vocab ON tok.tok = vocab.tok
    GROUP BY tok.source
    ORDER BY tok.source
    """,
    doc=f"Out-of-vocabulary rate per source against the top-{VOCAB_TOP_K} "
    "frequency-ranked vocabulary — the tokenizer-coverage monitor every "
    "training pipeline runs before committing a vocab: a source whose "
    "OOV rate spikes is about to shred into <unk>/byte-fallback tokens "
    "and needs vocab retraining or exclusion (the drift_psi_monitor "
    "idea applied to the token space). Plan: one token aggregate "
    "builds the Zipf-bounded vocabulary (broadcast), the OOV flag is "
    "a map-side broadcast LEFT join null-check, and the per-source "
    "rollup is one partial->final aggregate — two scans of the token "
    "stream, no corpus-sized state.",
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens_col(F.col("text"))).alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("f"))
        .select("tok", F.row_number().over(Window.orderBy(F.col("f").desc(), F.col("tok").asc())).alias("rn"))
        .filter(F.col("rn") <= VOCAB_TOP_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).cast("bigint").alias("n_oov"),
            F.round(
                F.count(F.when(F.col("in_vocab").isNull(), 1)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


N_HASH_FEATURES = 32


def _md5_int_sql(expr: str, n_digits: int) -> str:
    """First ``n_digits`` hex digits of md5(expr) as a BIGINT — DuckDB
    twin of Spark's conv(substring(md5(x),1,n),16,10). Max 15 digits
    (60 bits) to stay inside a signed BIGINT."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {n_digits + 1}), "
        f"i -> CAST(instr('0123456789abcdef', substr(md5({expr}), i, 1)) - 1 AS BIGINT))), "
        "(acc, d) -> acc * 16 + d)"
    )


def _md5_int8_sql(expr: str) -> str:
    """First 8 hex digits of md5(expr) as a BIGINT — DuckDB twin of
    Spark's conv(substring(md5(x),1,8),16,10)."""
    return _md5_int_sql(expr, 8)


@register(
    "feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    )
    SELECT doc_id,
           CAST({_md5_int8_sql('tok')} % {N_HASH_FEATURES} AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM toks WHERE tok <> ''
    GROUP BY doc_id, bucket
    """,
    doc="Feature hashing (the 'hashing trick') — sparse bag-of-words "
    "features WITHOUT any vocabulary pass: each token maps straight "
    "to bucket = md5-int mod 32, emitted as (doc, bucket, count) "
    "sparse triples. This is the scale answer vocab_id_assign trades "
    "against: no global vocabulary state, no broadcast, no second "
    "scan — one explode + one (doc, bucket) hash aggregate, "
    "embarrassingly map-parallel, collisions traded for O(1) memory "
    "(Weinberger et al., ICML 2009). The hash is the first 8 md5 hex "
    "digits folded to a bigint — byte-identical in both engines (the "
    "checksum-audit construction), never an engine-internal hash. "
    "Output stays sparse: at most min(doc_len, 32) rows per doc.",
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).where(F.col("tok") != "")
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
        % N_HASH_FEATURES
    ).cast("int")
    return toks.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


# ------------------------------------------------------------- round 9
@register(
    "data_mixture_weights",
    oracle=f"""
    WITH src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY source
    ),
    k AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM src)
    SELECT s.source, s.n_docs, s.avail_tokens,
           CAST(10000000 // k.n_sources AS BIGINT) AS target_tokens,
           round(CAST(10000000 // k.n_sources AS DOUBLE)
                 / CAST(s.avail_tokens AS DOUBLE), 6) AS sample_weight,
           (10000000 // k.n_sources) > s.avail_tokens AS oversampled
    FROM src s CROSS JOIN k
    """,
    doc="Training-mixture planning — the step between corpus curation "
    "and the dataloader: given a token budget (10M, literal) and a "
    "target mixture (uniform across sources here; any target-share "
    "table composes the same way), compute each source's available "
    "token mass, its target allocation, the per-source sampling "
    "weight (epochs: >1 means the source must repeat to fill its "
    "share — the Pile/DoReMi-style recipe input) and an oversampled "
    "flag. Cross-engine exactness: token counts and the budget split "
    "are pure integers (budget div n_sources), the epochs ratio is "
    "ONE double division rounded at the projection, and the "
    "oversampled flag is an integer comparison — no float near any "
    "decision. Scale shape: one partial->final aggregate over the "
    "corpus collapses to |sources| rows; everything after (the "
    "1-row source-count join included) is O(sources) on the driver "
    "plan, broadcast-joined. The weights FEED sample_temperature_mix "
    "/ sample_language_balanced, which apply per-row rates map-side. "
    "Ref: no reference analog; mixture-weight planning per the "
    "public data-mixing literature (GPT-3/Pile table style).",
)
def q_data_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    src = d.select("source", tokens_col(F.col("text")).alias("toks")).groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size("toks")).cast("bigint").alias("avail_tokens"),
    )
    k = src.agg(F.count(F.lit(1)).cast("bigint").alias("n_sources"))
    return src.crossJoin(F.broadcast(k)).select(
        "source",
        "n_docs",
        "avail_tokens",
        F.expr("10000000 div n_sources").cast("bigint").alias("target_tokens"),
        F.round(
            F.expr("10000000 div n_sources").cast("double")
            / F.col("avail_tokens").cast("double"),
            6,
        ).alias("sample_weight"),
        (F.expr("10000000 div n_sources") > F.col("avail_tokens")).alias(
            "oversampled"
        ),
    )


ROUGE_MAX_TOKENS = 80  # LCS DP cost bound per pair (O(80*80) ints)


@register(
    "text_rouge_l",
    oracle=None,  # LCS is not SQL-expressible — rows-only; the DP kernel
    # is value-pinned against a pure-Python reference and analytic
    # planted cases in tests/test_text.py
    doc="Corpus ROUGE-L — the LCS-based generation metric next to "
    "eval_bleu_corpus's clipped n-gram precision (BLEU rewards exact "
    "contiguous overlap; ROUGE-L credits in-order but GAPPY overlap, "
    "the summarization-eval standard). Pairs are consecutive same-"
    "source documents (lead over doc_id — a deterministic self-pairing "
    "that needs no external reference column); each pair's LCS runs as "
    "an Arrow-batched pandas UDF over token arrays truncated to "
    f"{ROUGE_MAX_TOKENS} tokens (bounding the O(m*n) DP per pair — the "
    "documented cost knob; production evals cap candidate length the "
    "same way). Aggregation is MICRO-averaged from integer sums "
    "(sum_lcs / sum_len) so no per-pair float ever folds in partition "
    "order — the output is deterministic across partitionings even "
    "without an oracle twin. Scale shape: the pairing is one window "
    "lead inside each source partition (no join), the UDF is "
    "map-side, and the final aggregate is partial->final on "
    "|sources| keys. Hot-source caveat: a source holding most of the "
    "corpus makes the lead window one large sorted task; the standard "
    "exact fix at that scale is bucketing doc_id ranges inside the "
    "source (pair within buckets, stitch each bucket's last row to "
    "the next bucket's first — two extra narrow stages), omitted at "
    "bench scale and documented instead. Ref: no reference analog; "
    "ROUGE-L per Lin (2004), micro-averaged.",
)
def q_text_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def lcs_len(cand: pd.Series, ref: pd.Series) -> pd.Series:
        def lcs(a, b):
            a = a[:ROUGE_MAX_TOKENS]
            b = b[:ROUGE_MAX_TOKENS]
            if not len(a) or not len(b):
                return 0
            prev = [0] * (len(b) + 1)
            for x in a:
                cur = [0]
                for j, y in enumerate(b, 1):
                    cur.append(
                        prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1])
                    )
                prev = cur
            return prev[-1]

        return pd.Series(
            [lcs(a, b) if a is not None and b is not None else 0
             for a, b in zip(cand, ref)]
        )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", tokens_col(F.col("text")).alias("toks")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = d.select(
        "source",
        F.slice(F.col("toks"), 1, ROUGE_MAX_TOKENS).alias("cand"),
        F.slice(F.lead("toks", 1).over(w), 1, ROUGE_MAX_TOKENS).alias("ref"),
    ).where(F.col("ref").isNotNull())
    scored = pairs.select(
        "source",
        F.size("cand").cast("bigint").alias("len_c"),
        F.size("ref").cast("bigint").alias("len_r"),
        lcs_len("cand", "ref").alias("lcs"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("lcs").cast("bigint").alias("sum_lcs"),
        F.sum("len_c").cast("bigint").alias("sum_len_c"),
        F.sum("len_r").cast("bigint").alias("sum_len_r"),
    )
    p = F.col("sum_lcs").cast("double") / F.col("sum_len_c").cast("double")
    r = F.col("sum_lcs").cast("double") / F.col("sum_len_r").cast("double")
    return agg.select(
        "source",
        "n_pairs",
        "sum_lcs",
        "sum_len_c",
        "sum_len_r",
        F.round(p, 6).alias("rouge_l_p"),
        F.round(r, 6).alias("rouge_l_r"),
        F.round(
            F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0)), 6
        ).alias("rouge_l_f1"),
    ).orderBy("source")


@register(
    "source_kl_divergence",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest({_TOKENS_SQL}) AS t FROM documents
    ),
    stc AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c_st
            FROM toks GROUP BY source, t),
    vocab AS (SELECT t, CAST(sum(c_st) AS BIGINT) AS c_t FROM stc GROUP BY t),
    totals AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
               FROM stc GROUP BY source),
    consts AS (
      SELECT CAST(count(*) AS BIGINT) AS v,
             CAST(sum(c_t) AS BIGINT) AS n
      FROM vocab
    ),
    grid AS (
      SELECT tt.source, tt.n_s, vb.t, vb.c_t,
             coalesce(s.c_st, 0) AS c_st
      FROM vocab vb
      CROSS JOIN totals tt
      LEFT JOIN stc s ON s.source = tt.source AND s.t = vb.t
    )
    SELECT g.source,
           max(g.n_s) AS n_tokens,
           round(sum(
             (CAST(g.c_st + 1 AS DOUBLE) / CAST(g.n_s + c.v AS DOUBLE))
             * ln((CAST(g.c_st + 1 AS DOUBLE) / CAST(g.n_s + c.v AS DOUBLE))
                  / (CAST(g.c_t + 1 AS DOUBLE) / CAST(c.n + c.v AS DOUBLE)))
           ), 4) AS kl_vs_corpus
    FROM grid g CROSS JOIN consts c
    GROUP BY g.source
    ORDER BY g.source
    """,
    doc="Per-source KL divergence of the unigram token distribution "
    "against the corpus-wide distribution (Laplace +1 smoothing over "
    "the shared vocabulary) — the text-drift / mixture-divergence "
    "measure that pairs with data_mixture_weights (how FAR each "
    "source's language is from the blend you are sampling toward; "
    "drift_psi_monitor covers binned NUMERIC drift, this covers the "
    "token-distribution case). Determinism: every probability is ONE "
    "fixed-shape double expression over exact integer counts, and "
    "the vocabulary-sized log sum is rounded at 4dp per the "
    "text_lm_score precedent (fold-order noise ~1e-12 against a 1e-4 "
    "grid). Scale shape: one (source, token) aggregate collapses the "
    "corpus; the scoring grid is vocab x sources — VOCABULARY-"
    "bounded, not corpus-bounded, the same smoothing-grid shape "
    "lang_nb_classifier certifies — with the (V, N) constants on a "
    "broadcast 1-row frame and a final partial->final per-source "
    "sum. Ref: no reference analog; KL with add-one smoothing per "
    "the standard definition.",
)
def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tokens_col(F.col("text"))).alias("t"))
    stc = toks.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_st")
    )
    vocab = stc.groupBy("t").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    totals = stc.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    consts = vocab.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("c_t").cast("bigint").alias("n"),
    )
    grid = (
        vocab.crossJoin(F.broadcast(totals))
        .join(stc, ["source", "t"], "left")
        .select(
            "source",
            "n_s",
            "c_t",
            F.coalesce(F.col("c_st"), F.lit(0)).alias("c_st"),
        )
    )
    p = (F.col("c_st") + 1).cast("double") / (F.col("n_s") + F.col("v")).cast("double")
    q = (F.col("c_t") + 1).cast("double") / (F.col("n") + F.col("v")).cast("double")
    return (
        grid.crossJoin(F.broadcast(consts))
        .groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.round(F.sum(p * F.log(p / q)), 4).alias("kl_vs_corpus"),
        )
        .orderBy("source")
    )


# ------------------------------------------------------------- round 10
_ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz "
_ENTROPY_GATE_BITS = 3.5


def _entropy_oracle() -> str:
    counts = ",\n      ".join(
        f"CAST(length(text) - length(replace(text, '{ch}', '')) AS BIGINT) AS c{i}"
        for i, ch in enumerate(_ENTROPY_ALPHABET)
    )
    idx = range(len(_ENTROPY_ALPHABET))
    other = " - ".join(["n"] + [f"c{i}" for i in idx])
    terms = " + ".join(
        f"CASE WHEN c{i} > 0 THEN (CAST(c{i} AS DOUBLE) / nd) * log2(CAST(c{i} AS DOUBLE) / nd) ELSE CAST(0 AS DOUBLE) END"
        for i in idx
    )
    cols = ", ".join(f"c{i}" for i in idx)
    return f"""
    WITH counted AS (
      SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n,
      {counts}
      FROM documents
    ),
    widened AS (
      SELECT doc_id, lang, n, CAST(n AS DOUBLE) AS nd, {cols},
             {other} AS co
      FROM counted
    ),
    scored AS (
      SELECT doc_id, lang, n,
             CASE WHEN n > 0 THEN
               -(({terms})
                 + CASE WHEN co > 0 THEN (CAST(co AS DOUBLE) / nd) * log2(CAST(co AS DOUBLE) / nd) ELSE CAST(0 AS DOUBLE) END)
             END AS h
      FROM widened
    )
    SELECT doc_id, lang, n AS n_chars_counted,
           round(h, 6) AS entropy_bits,
           (h < CAST({_ENTROPY_GATE_BITS} AS DOUBLE)) AS is_low_entropy
    FROM scored
    ORDER BY doc_id
    """


@register(
    "text_char_entropy_gate",
    oracle=_entropy_oracle(),
    doc="Character-entropy quality gate — the gibberish/repetition "
    "detector next to text_repetition_ratio and the Gopher-style "
    "gates: Shannon entropy of each document's character "
    "distribution over a FIXED 28-bucket alphabet (26 letters + "
    "space + other), flagging docs below "
    f"{_ENTROPY_GATE_BITS} bits/char (natural English sits ~4.1; "
    "'aaaa...' collapses to 0 — low entropy means degenerate "
    "repetition, high-entropy-above-text means noise, both poison "
    "training data). Scale shape: NO explode — per-character counts "
    "come from length(text) - length(replace(text, ch, '')) scalar "
    "expressions, so the whole operator is a single map-only "
    "projection over the scan (28 replaces per row beat shuffling "
    "len(text) exploded rows by orders of magnitude at 100 TB). "
    "Cross-engine exactness: counts are integers; the entropy sum "
    "is ONE fixed expression tree generated from the same Python "
    "list in both dialects (float adds are never reassociated by "
    "either engine, so term order — and the result — is "
    "bit-identical), rounded at the projection; empty docs yield "
    "NULL by the n > 0 guard. Ref: no reference analog; Shannon "
    "entropy per the classic definition.",
)
def q_text_char_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    idx = range(len(_ENTROPY_ALPHABET))
    counted = d.select(
        "doc_id",
        "lang",
        F.length("text").cast("bigint").alias("len"),
        *[
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(ch))))
            .cast("bigint")
            .alias(f"c{i}")
            for i, ch in enumerate(_ENTROPY_ALPHABET)
        ],
    )
    total_known = None
    for i in idx:
        total_known = F.col(f"c{i}") if total_known is None else total_known + F.col(f"c{i}")
    widened = counted.select(
        "doc_id",
        "lang",
        *[f"c{i}" for i in idx],
        (F.col("len") - total_known).alias("co"),
        F.col("len").alias("n"),
    )
    nd = F.col("n").cast("double")

    def term(c):
        frac = c.cast("double") / nd
        return F.when(c > 0, frac * F.log2(frac)).otherwise(F.lit(0.0))

    h_sum = None
    for i in idx:
        t = term(F.col(f"c{i}"))
        h_sum = t if h_sum is None else h_sum + t
    h = -(h_sum + term(F.col("co")))
    return (
        widened.select(
            "doc_id",
            "lang",
            F.col("n").alias("n_chars_counted"),
            F.round(F.when(F.col("n") > 0, h), 6).alias("entropy_bits"),
            F.when(F.col("n") > 0, h < F.lit(_ENTROPY_GATE_BITS)).alias(
                "is_low_entropy"
            ),
        )
        .orderBy("doc_id")
    )


def _bpe_decode_oracle() -> str:
    ctes = _bpe_ctes()
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST(count(*) AS BIGINT) AS n_vocab_words,
           CAST(sum(CASE WHEN replace(sym, '|', '') = word
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lossless,
           (count(*) = sum(CASE WHEN replace(sym, '|', '') = word
                                THEN 1 ELSE 0 END)) AS all_lossless
    FROM s{BPE_MERGES}
    """
    )


@register(
    "tokenizer_bpe_decode_roundtrip",
    oracle=_bpe_decode_oracle(),
    doc="BPE decode-roundtrip certification — the tokenizer-integrity "
    "property every training pipeline must hold: decoding (symbol "
    "concatenation, i.e. stripping the delimiters from the trained "
    "symbol string) must reproduce the original word EXACTLY for "
    "every vocabulary word, because BPE merges only ever remove "
    "segmentation boundaries, never bytes. The entry runs the same "
    "trained word-state as tokenizer_bpe_train/encode and emits the "
    "corpus-wide verdict (vocab size, lossless count, all-lossless "
    "flag) — a regression in the merge loop (e.g. an overlapping "
    "replace) flips the flag and hash-mismatches. Scale: the check "
    "runs on the vocabulary-sized word-state, one map expression + "
    "one global aggregate; corpus size only enters through the "
    "word-count pass training already does. Ref: no reference "
    "analog; the roundtrip property per standard tokenizer test "
    "practice.",
)
def q_tokenizer_bpe_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    state, _merges = _bpe_train(spark, sf_dir)
    ok = F.sum(
        F.when(F.regexp_replace("sym", r"\|", "") == F.col("word"), 1).otherwise(0)
    ).cast("bigint")
    return state.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab_words"),
        ok.alias("n_lossless"),
        (F.count(F.lit(1)) == ok).alias("all_lossless"),
    )


# ----------------------------------------------------- round 12: DSIR
DSIR_BUCKETS = 256


@register(
    "sample_dsir_importance",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKENS_SQL} AS toks FROM documents),
    big AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM t
    ),
    b AS (
      SELECT doc_id, lang,
             CAST({_md5_int8_sql('bg')} % {DSIR_BUCKETS} AS INT) AS bucket
      FROM big
    ),
    cnt AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_raw,
             CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_tgt
      FROM b GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(n_raw) AS BIGINT) AS tot_raw,
             CAST(sum(n_tgt) AS BIGINT) AS tot_tgt
      FROM cnt
    ),
    wt AS (
      SELECT bucket,
             CAST(round(ln(
               (CAST(n_tgt + 1 AS DOUBLE) * CAST(tot_raw + {DSIR_BUCKETS} AS DOUBLE))
               / (CAST(n_raw + 1 AS DOUBLE) * CAST(tot_tgt + {DSIR_BUCKETS} AS DOUBLE))
             ) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS w_int
      FROM cnt CROSS JOIN tot
    )
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(wt.w_int) AS DOUBLE) / CAST(1000000 AS DOUBLE), 6)
             AS dsir_score
    FROM b JOIN wt USING (bucket)
    GROUP BY b.doc_id
    """,
    doc="LLM-pipeline: DSIR data selection (Xie et al. 2023, 'Data "
    "Selection for Language Models via Importance Resampling') — score "
    "every raw document by its hashed-bigram importance weight toward "
    "a target distribution (here: the lang='en' slice standing in for "
    "the high-quality target corpus). Features are word bigrams hashed "
    "to 256 buckets (first-8-md5-hex fold — the engine-portable "
    "construction feature_hashing certifies); the bucket unigram "
    "models are (count+1)/(total+B)-smoothed, and a document's log "
    "importance weight is the sum of its bigram buckets' log-ratios. "
    "Cross-engine exactness: ONE ln per bucket over an exact integer "
    "ratio, requantized once to micro-units (<=256 doubles in the "
    "whole query), then every per-doc sum is BIGINT — headroom: "
    "|w_int| <= ~2e7, so int64 holds past 4e11 bigrams per document. "
    "Scale shape: one posexplode + doc-keyed lead window builds the "
    "bigram stream (shared exchange with the final per-doc aggregate), "
    "the bucket stats collapse to <=256 rows in one partial->final "
    "aggregate, the weight table broadcasts, and nothing "
    "vocabulary-sized ever materializes — DSIR's entire point vs "
    "training a quality classifier per target. The score FEEDS the "
    "map-side rate samplers (sample_quality_deciles / "
    "train_test_split_hash) exactly like quality_lr_classifier's "
    "logit. Ref: no reference analog; public DSIR method.",
)
def q_sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens_col(F.col("text")).alias("toks")
    )
    tok = d.select("doc_id", "lang", F.posexplode("toks").alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select(
            "doc_id",
            "lang",
            F.concat_ws(" ", "tok", "nxt").alias("bg"),
        )
    )
    bucket = (
        F.conv(F.substring(F.md5("bg"), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    ).cast("int")
    b = big.select("doc_id", "lang", bucket.alias("bucket"))
    cnt = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("bigint").alias("n_tgt"),
    )
    tot = cnt.agg(
        F.sum("n_raw").cast("bigint").alias("tot_raw"),
        F.sum("n_tgt").cast("bigint").alias("tot_tgt"),
    )
    wt = cnt.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("n_tgt") + 1).cast("double")
                 * (F.col("tot_raw") + DSIR_BUCKETS).cast("double"))
                / ((F.col("n_raw") + 1).cast("double")
                   * (F.col("tot_tgt") + DSIR_BUCKETS).cast("double"))
            )
            * F.lit(1000000.0)
        ).cast("bigint").alias("w_int"),
    )
    return (
        b.join(F.broadcast(wt), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum("w_int").cast("double") / F.lit(1000000.0), 6
            ).alias("dsir_score"),
        )
    )


GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


@register(
    "quality_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKENS_SQL} AS toks,
             string_split(text, chr(10)) AS lines
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT)))
                  AS BIGINT) AS total_chars,
             CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
               + CAST((length(text) - length(replace(text, '...', ''))) // 3
                      AS BIGINT) AS n_symbols,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                  AS BIGINT) AS n_alpha_words,
             CAST(len(list_filter({list(GOPHER_REQUIRED_STOPWORDS)!r}::VARCHAR[],
                                  w -> list_contains(toks, w))) AS BIGINT)
               AS n_req_stopwords,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines,
                 l -> starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')))
                  AS BIGINT) AS n_bullet_lines,
             CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...')))
                  AS BIGINT) AS n_ellipsis_lines
      FROM t
    )
    SELECT doc_id, n_words,
           (n_words >= 50 AND n_words <= 100000) AS words_in_range,
           (3 * n_words <= total_chars AND total_chars <= 10 * n_words)
             AS mean_word_len_ok,
           (10 * n_symbols < n_words) AS symbol_ratio_ok,
           (10 * n_bullet_lines < 9 * n_lines) AS bullet_ok,
           (10 * n_ellipsis_lines < 3 * n_lines) AS ellipsis_ok,
           (5 * n_alpha_words >= 4 * n_words) AS alpha_ratio_ok,
           (n_req_stopwords >= 2) AS stopwords_ok,
           ((n_words >= 50 AND n_words <= 100000)
            AND (3 * n_words <= total_chars AND total_chars <= 10 * n_words)
            AND (10 * n_symbols < n_words)
            AND (10 * n_bullet_lines < 9 * n_lines)
            AND (10 * n_ellipsis_lines < 3 * n_lines)
            AND (5 * n_alpha_words >= 4 * n_words)
            AND (n_req_stopwords >= 2)) AS pass_gopher
    FROM m
    """,
    doc="LLM-pipeline: the Gopher quality-rule gate (Rae et al. 2021, "
    "Appendix A1.1) — the named heuristic battery most public corpus "
    "pipelines (MassiveText, RefinedWeb, Dolma) apply before any "
    "model-based scoring: word count in [50, 100k], mean word length "
    "in [3, 10], symbol-to-word ratio (#/ellipsis) < 0.1, < 90% "
    "bullet-started lines, < 30% ellipsis-ended lines, >= 80% of words "
    "alphabetic, >= 2 required English stopwords present. Emitted as "
    "per-rule booleans + the composite flag so the gate is auditable, "
    "not just applied. Cross-engine exactness: every ratio threshold "
    "is an integer cross-multiplication (10*symbols < words, "
    "5*alpha >= 4*words, ...) — no float ever touches a keep/drop "
    "boundary, so the decision set is engine-exact by construction. "
    "Scale shape: pure map-side token/line higher-order expressions in "
    "one codegen span — zero shuffles, scan-speed at any corpus size, "
    "composes in front of quality_lr_classifier / "
    "sample_dsir_importance exactly as the public pipelines order "
    "their stages. Ref: no reference analog; public Gopher rules.",
)
def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        tokens_col(F.col("text")).alias("toks"),
        F.split(F.col("text"), "\n", -1).alias("lines"),
    )
    stop_arr = ", ".join(f"'{w}'" for w in GOPHER_REQUIRED_STOPWORDS)
    m = d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_words"),
        F.expr(
            "aggregate(toks, CAST(0 AS BIGINT), (a, x) -> a + length(x))"
        ).alias("total_chars"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", "#", "")))
            + (
                F.length("text")
                - F.length(F.regexp_replace("text", r"\.\.\.", ""))
            )
            / F.lit(3)
        ).cast("bigint").alias("n_symbols"),
        F.expr("size(filter(toks, x -> x rlike '[a-zA-Z]'))")
        .cast("bigint")
        .alias("n_alpha_words"),
        F.expr(
            f"size(filter(array({stop_arr}), w -> array_contains(toks, w)))"
        ).cast("bigint").alias("n_req_stopwords"),
        F.size("lines").cast("bigint").alias("n_lines"),
        F.expr(
            "size(filter(lines, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%'))"
        ).cast("bigint").alias("n_bullet_lines"),
        F.expr("size(filter(lines, l -> rtrim(l) LIKE '%...'))")
        .cast("bigint")
        .alias("n_ellipsis_lines"),
    )
    words_in_range = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    mean_len_ok = (3 * F.col("n_words") <= F.col("total_chars")) & (
        F.col("total_chars") <= 10 * F.col("n_words")
    )
    symbol_ok = 10 * F.col("n_symbols") < F.col("n_words")
    bullet_ok = 10 * F.col("n_bullet_lines") < 9 * F.col("n_lines")
    ellipsis_ok = 10 * F.col("n_ellipsis_lines") < 3 * F.col("n_lines")
    alpha_ok = 5 * F.col("n_alpha_words") >= 4 * F.col("n_words")
    stop_ok = F.col("n_req_stopwords") >= 2
    return m.select(
        "doc_id",
        "n_words",
        words_in_range.alias("words_in_range"),
        mean_len_ok.alias("mean_word_len_ok"),
        symbol_ok.alias("symbol_ratio_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ratio_ok"),
        stop_ok.alias("stopwords_ok"),
        (
            words_in_range
            & mean_len_ok
            & symbol_ok
            & bullet_ok
            & ellipsis_ok
            & alpha_ok
            & stop_ok
        ).alias("pass_gopher"),
    )


@register(
    "vocab_unseen_estimate",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    tf AS (SELECT tok, count(*) AS f FROM tok GROUP BY tok),
    fof AS (SELECT f, count(*) AS n_f FROM tf GROUP BY f),
    agg AS (
      SELECT
        (SELECT sum(f * n_f) FROM fof) AS n_tokens,
        (SELECT sum(n_f) FROM fof) AS v_observed,
        coalesce((SELECT n_f FROM fof WHERE f = 1), 0) AS v1,
        coalesce((SELECT n_f FROM fof WHERE f = 2), 0) AS v2
    )
    SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(v_observed AS BIGINT) AS v_observed,
           CAST(v1 AS BIGINT) AS v_hapax,
           CAST(v2 AS BIGINT) AS v_dis,
           round(CAST(v1 AS DOUBLE) / n_tokens, 9) AS p_unseen_gt,
           round(v_observed + CASE WHEN v2 > 0
                 THEN CAST(v1 AS DOUBLE) * v1 / (2.0 * v2)
                 ELSE CAST(v1 AS DOUBLE) * (v1 - 1) / 2.0 END,
                 4) AS chao1_richness
    FROM agg
    """,
    doc="Vocabulary richness / unseen-mass estimation from the "
    "frequency-of-frequencies profile — the corpus-planning statistic "
    "behind 'how much vocabulary does the NEXT shard add': Good-Turing "
    "missing mass P(unseen) = V1/N (Good 1953) and the Chao1 richness "
    "lower bound V + V1^2/(2*V2) (Chao 1984; bias-corrected "
    "V1(V1-1)/2 form when no doubletons exist). Integer counts all "
    "the way to two final divisions, so cross-engine exact. Plan: one "
    "token aggregate -> a vocabulary-sized frequency table -> a "
    "frequency-of-frequencies aggregate (at most max-count rows) -> "
    "a 1-row summary; partial->final combine at every level, no "
    "corpus-sized state anywhere. At 100 TB the fof table is dozens "
    "of rows regardless of corpus size. Ref: no reference analog; "
    "public Good-Turing / Chao1 estimators.",
)
def q_vocab_unseen_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    tf = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    fof = tf.groupBy("f").agg(F.count(F.lit(1)).alias("n_f"))
    agg = fof.agg(
        F.sum(F.col("f") * F.col("n_f")).alias("n_tokens"),
        F.sum("n_f").alias("v_observed"),
        F.coalesce(
            F.sum(F.when(F.col("f") == 1, F.col("n_f"))), F.lit(0)
        ).alias("v1"),
        F.coalesce(
            F.sum(F.when(F.col("f") == 2, F.col("n_f"))), F.lit(0)
        ).alias("v2"),
    )
    return agg.select(
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("v_observed").cast("bigint").alias("v_observed"),
        F.col("v1").cast("bigint").alias("v_hapax"),
        F.col("v2").cast("bigint").alias("v_dis"),
        F.round(F.col("v1").cast("double") / F.col("n_tokens"), 9).alias(
            "p_unseen_gt"
        ),
        F.round(
            F.col("v_observed")
            + F.when(
                F.col("v2") > 0,
                F.col("v1").cast("double") * F.col("v1") / (2.0 * F.col("v2")),
            ).otherwise(
                F.col("v1").cast("double") * (F.col("v1") - 1) / 2.0
            ),
            4,
        ).alias("chao1_richness"),
    )


HEAPS_BUCKETS = 32

_HEAPS_SLOPE_SQL = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"


@register(
    "vocab_heaps_law",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS ts FROM documents),
    nt AS (SELECT doc_id, len(ts) AS n_tok FROM t),
    tok AS (SELECT doc_id, unnest(ts) AS tok FROM t),
    ft AS (SELECT min(doc_id) AS doc_id FROM tok GROUP BY tok),
    nv AS (SELECT doc_id, count(*) AS new_v FROM ft GROUP BY doc_id),
    mx AS (SELECT CAST(ceil((max(doc_id) + 1) / {float(HEAPS_BUCKETS)}) AS BIGINT) AS w
           FROM documents),
    b AS (SELECT CAST(floor(nt.doc_id / mx.w) AS INT) AS bucket,
                 nt.n_tok, coalesce(nv.new_v, 0) AS new_v
          FROM nt LEFT JOIN nv ON nt.doc_id = nv.doc_id, mx),
    pb AS (SELECT bucket, sum(n_tok) AS bn, sum(new_v) AS bv
           FROM b GROUP BY bucket),
    pts AS (SELECT round(ln(CAST(sum(bn) OVER wsp AS DOUBLE)), 9) AS x,
                   round(ln(CAST(sum(bv) OVER wsp AS DOUBLE)), 9) AS y
            FROM pb WINDOW wsp AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)),
    s AS (SELECT count(*) AS n,
            CAST(sum(CAST(round(x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
            CAST(sum(CAST(round(y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
            CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
            CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
          FROM pts)
    SELECT CAST(n AS BIGINT) AS n_points,
           round({_HEAPS_SLOPE_SQL}, 6) + 0 AS heaps_beta,
           round((sy - round({_HEAPS_SLOPE_SQL}, 9) * sx) / n, 6) + 0 AS heaps_ln_k
    FROM s
    """,
    doc="Heaps'-law vocabulary-growth fit V(N) = k * N^beta (Heaps 1978; "
    "the corpus-planning companion to vocab_unseen_estimate's "
    "Good-Turing/Chao1 point estimates): how fast does vocabulary grow "
    "as the corpus grows. The growth curve is built EXACTLY without "
    "any corpus-sized cumulative state: each term contributes one "
    "first-occurrence event at min(doc_id), first-occurrence counts "
    f"and token counts aggregate into {HEAPS_BUCKETS} contiguous "
    "doc_id-range buckets (a keyed parallel aggregate), and the "
    "cumulative (N, V) checkpoints come from a window over the "
    f"{HEAPS_BUCKETS}-row bucket frame — so the only ordered scan is "
    "O(buckets), never O(docs), and at 100 TB the plan is two "
    "partial->final aggregates plus constant-size driver-free "
    "postprocessing. The log-log OLS slope/intercept use the repo's "
    "decimal discipline (9dp-rounded lns, 12dp-rounded products "
    "summed as DECIMAL(38,12), slope rounded to 9dp before the "
    "intercept) so both engines walk identical arithmetic. Ref: no "
    "reference analog; public Heaps/Herdan law.",
)
def q_vocab_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens_col(F.col("text")).alias("ts"))
    nt = toks.select("doc_id", F.size("ts").alias("n_tok"))
    tok = toks.select("doc_id", F.explode("ts").alias("tok"))
    nv = (
        tok.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("new_v"))
    )
    mx = d.agg(
        F.ceil((F.max("doc_id") + 1) / float(HEAPS_BUCKETS))
        .cast("bigint")
        .alias("w")
    )
    b = (
        nt.join(nv, "doc_id", "left")
        .na.fill({"new_v": 0})
        .crossJoin(F.broadcast(mx))
        .select(
            F.floor(F.col("doc_id") / F.col("w")).cast("int").alias("bucket"),
            "n_tok",
            "new_v",
        )
    )
    pb = b.groupBy("bucket").agg(
        F.sum("n_tok").alias("bn"), F.sum("new_v").alias("bv")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    pts = pb.select(
        F.round(F.log(F.sum("bn").over(w).cast("double")), 9).alias("x"),
        F.round(F.log(F.sum("bv").over(w).cast("double")), 9).alias("y"),
    )

    def dec(col: Column) -> Column:
        return F.sum(F.round(col, 12).cast("decimal(38,12)")).cast("double")

    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_points"),
        # `+ 0` canonicalizes signed zero on BOTH engines (IEEE: -0.0 + 0
        # = +0.0): a slope that rounds to zero hashed differently in r14
        # because DuckDB's round preserves the sign of an infinitesimally
        # negative argument while Spark's HALF_UP BigDecimal round does
        # not — numerically equal, representationally distinct.
        (F.round(slope, 6) + F.lit(0)).alias("heaps_beta"),
        (
            F.round(
                (F.col("sy") - F.round(slope, 9) * F.col("sx")) / F.col("n"), 6
            )
            + F.lit(0)
        ).alias("heaps_ln_k"),
    )


RM3_FB_DOCS = 10  # pseudo-relevance feedback depth
RM3_EXP_TERMS = 8  # expansion terms kept from the feedback model
RM3_LAMBDA = 0.5  # original-query interpolation weight


def _rm3_oracle() -> str:
    """DuckDB twin of q_retrieval_rm3_expansion — two BM25 scoring
    passes around a uniform-prior RM1 feedback model, every float
    rounded at the same grain as the Spark side."""
    contrib = (
        "round(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))"
        f" * (tf.tf * ({BM25_K1} + 1.0))"
        f" / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl"
        " / (CAST(stats.total AS DOUBLE) / stats.n_docs))), 9)"
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    stats AS (
      SELECT count(*) AS n_docs, sum(dl) AS total FROM dl
    ),
    q0 AS (
      SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY tf DESC, term ASC) AS rn
        FROM tf WHERE doc_id = 0
      ) WHERE rn <= {BM25_QUERY_TERMS}
    ),
    s1 AS (
      SELECT tf.doc_id,
             round(CAST(sum(CAST({contrib} AS DECIMAL(28,9))) AS DOUBLE), 6) AS bm25
      FROM tf JOIN q0 USING (term) JOIN df USING (term)
           JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      WHERE tf.doc_id <> 0
      GROUP BY tf.doc_id
    ),
    fb AS (
      SELECT doc_id FROM s1 ORDER BY bm25 DESC, doc_id ASC LIMIT {RM3_FB_DOCS}
    ),
    wexp AS (
      SELECT tf.term,
             round(CAST(sum(CAST(round(CAST(tf.tf AS DOUBLE) / dl.dl, 9)
                   AS DECIMAL(38,9))) AS DOUBLE), 9) AS w
      FROM tf JOIN fb USING (doc_id) JOIN dl ON tf.doc_id = dl.doc_id
      GROUP BY tf.term
    ),
    texp AS (
      SELECT term, w FROM wexp ORDER BY w DESC, term ASC LIMIT {RM3_EXP_TERMS}
    ),
    sumw AS (
      SELECT CAST(sum(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS s FROM texp
    ),
    wfin AS (
      SELECT coalesce(o.term, e.term) AS term,
             round({RM3_LAMBDA} * CASE WHEN o.term IS NULL THEN 0.0
                     ELSE {1.0 / BM25_QUERY_TERMS} END
                   + {1.0 - RM3_LAMBDA} * coalesce(round(e.w / sumw.s, 9), 0.0),
                   9) AS wt
      FROM (SELECT term FROM q0) o
      FULL JOIN texp e ON o.term = e.term
      CROSS JOIN sumw
    ),
    s3 AS (
      SELECT tf.doc_id,
             round(CAST(sum(CAST(round(wfin.wt * {contrib}, 9)
                   AS DECIMAL(28,9))) AS DOUBLE), 6) AS rm3_score
      FROM tf JOIN wfin USING (term) JOIN df USING (term)
           JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
      WHERE tf.doc_id <> 0
      GROUP BY tf.doc_id
    )
    SELECT doc_id, rm3_score FROM s3
    ORDER BY rm3_score DESC, doc_id ASC LIMIT {BM25_TOPK}
    """


@register(
    "retrieval_rm3_expansion",
    oracle=_rm3_oracle(),
    doc="RM3 pseudo-relevance feedback (Lavrenko & Croft 2001 relevance "
    "models; the Anserini/Indri default query-expansion stage): score "
    f"the corpus with BM25 against doc 0's top-{BM25_QUERY_TERMS} "
    f"terms, take the top-{RM3_FB_DOCS} feedback docs, build a "
    "uniform-prior RM1 term model from their length-normalized term "
    f"frequencies, keep the top-{RM3_EXP_TERMS} expansion terms "
    f"(normalized), interpolate with the original query at lambda="
    f"{RM3_LAMBDA}, and rescore — the classic recall-recovery loop on "
    "top of retrieval_bm25_topk. Determinism: every per-(doc,term) "
    "contribution and every model weight rounds to 9dp before an "
    "exact DECIMAL accumulation; all top-k steps carry explicit "
    "term/doc_id tiebreaks. Plan: the corpus-sized tf/dl/df "
    "aggregates are built once and BOTH scoring passes probe them "
    "with <=16-term broadcast frames (the BM25 query-pruned-df "
    "discipline); the feedback model is a <=10-doc x vocabulary "
    "aggregate pruned by a broadcast semi-join on the feedback docs. "
    "At 100 TB nothing beyond the postings shuffle grows — expansion "
    "adds two tiny broadcasts and one more probe of the same "
    "inverted-index layout. Ref: no reference analog; public RM3.",
)
def q_retrieval_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    # ONE corpus pass (r15): the query references tf/dl/dfreq/stats from
    # TWO scoring passes plus the feedback model, and left lazy every
    # reference re-exploded the corpus (filter variants defeat exchange
    # reuse — 32 Exchange nodes measured). Materialize the (doc_id,
    # term, tf) aggregate once; dl, dfreq and stats are EXACT integer
    # derivations of it (dl = Σ tf per doc, df = rows per term since tf
    # is one row per (doc, term), stats over the derived dl) — same
    # values, vocabulary-sized work instead of corpus passes.
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total"))
    avgdl = F.col("total").cast("double") / F.col("n_docs")
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    denom = F.col("tf") + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl)
    contrib = F.round(idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom, 9)

    def score(wq: DataFrame, out_col: str) -> DataFrame:
        # wq: (term, wt) — <=16 rows; prune the vocabulary-sized df
        # to the query terms BEFORE broadcasting (the BM25 discipline)
        dfreq_q = dfreq.join(F.broadcast(wq), "term")
        c = F.round(F.col("wt") * contrib, 9)
        return (
            tf.filter(F.col("doc_id") != 0)
            .join(F.broadcast(dfreq_q), "term")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(
                F.round(
                    F.sum(c.cast("decimal(28,9)")).cast("double"), 6
                ).alias(out_col)
            )
        )

    wq0 = Window.orderBy(F.col("tf").desc(), F.col("term").asc())
    q0 = (
        tf.filter(F.col("doc_id") == 0)
        .withColumn("rn", F.row_number().over(wq0))
        .filter(F.col("rn") <= BM25_QUERY_TERMS)
        .select("term")
    )
    s1 = score(q0.withColumn("wt", F.lit(1.0)), "bm25")
    fb = (
        s1.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(RM3_FB_DOCS)
        .select("doc_id")
    )
    wexp = (
        tf.join(F.broadcast(fb), "doc_id")
        .join(dl, "doc_id")
        .groupBy("term")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("tf").cast("double") / F.col("dl"), 9).cast(
                        "decimal(38,9)"
                    )
                ).cast("double"),
                9,
            ).alias("w")
        )
    )
    texp = (
        wexp.orderBy(F.col("w").desc(), F.col("term").asc())
        .limit(RM3_EXP_TERMS)
        .localCheckpoint(eager=False)  # reused by sumw + wfin
    )
    sumw = texp.agg(
        F.sum(F.col("w").cast("decimal(38,9)")).cast("double").alias("s")
    )
    worig = q0.select("term", F.lit(1.0 / BM25_QUERY_TERMS).alias("wo"))
    wfin = (
        worig.join(texp, "term", "full")
        .crossJoin(F.broadcast(sumw))
        .select(
            "term",
            F.round(
                RM3_LAMBDA * F.coalesce(F.col("wo"), F.lit(0.0))
                + (1.0 - RM3_LAMBDA)
                * F.coalesce(F.round(F.col("w") / F.col("s"), 9), F.lit(0.0)),
                9,
            ).alias("wt"),
        )
    )
    return (
        score(wfin, "rm3_score")
        .orderBy(F.col("rm3_score").desc(), F.col("doc_id").asc())
        .limit(BM25_TOPK)
    )


KN_D = 0.75  # absolute discount (Kneser-Ney 1995's fixed-D variant)


@register(
    "text_kneser_ney_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    b AS (
      SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> {{'w1': toks[i], 'w2': toks[i+1]}})) AS bg
        FROM t WHERE len(toks) >= 2
      )
    ),
    bc AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
    uc AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                  CAST(count(*) AS BIGINT) AS n1fw
           FROM bc GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM bc GROUP BY w2),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM bc),
    p AS (
      SELECT bc.w1, bc.w2,
             (greatest(CAST(bc.c12 AS DOUBLE) - {KN_D}, 0.0)
              + {KN_D} * uc.n1fw * cont.n1bw / tt.t) / uc.c1 AS p
      FROM bc JOIN uc USING (w1) JOIN cont USING (w2) CROSS JOIN tt
    )
    SELECT b.doc_id, count(*) AS n_bigrams,
           round(CAST(sum(CAST(round(ln(p.p), 9) AS DECIMAL(28,9))) AS DOUBLE)
                 / count(*), 6) AS kn_logprob
    FROM b JOIN p USING (w1, w2)
    GROUP BY b.doc_id
    """,
    doc="Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995; "
    f"Chen & Goodman 1999's fixed-discount form, D={KN_D}): "
    "P(w2|w1) = (max(c12-D,0) + D*N1+(w1,.)*Pcont(w2)) / c(w1) with "
    "the CONTINUATION probability Pcont(w2) = N1+(.,w2)/|bigram types| "
    "— the smoothing that made n-gram LMs production-grade and the "
    "upgrade over text_lm_score's unsmoothed MLE (which assigns "
    "p=c12/c1 with no mass reserved for unseen continuations; KN "
    "scores the same docs lower when their bigrams are frequent but "
    "their second words are contextually promiscuous). Determinism: "
    "all four model statistics (c12, c1, N1+ forward/backward, type "
    "count T) are exact integers in both engines; the probability is "
    "ONE double expression evaluated in the identical operation order "
    "(left-assoc discount product, then the single divide by c1), "
    "per-bigram ln rounds to 9dp, sums as DECIMAL(28,9), and the "
    "per-doc mean rounds to 6dp — the BM25/RM3 decimal discipline. "
    "Plan: one posexplode bigram pass (localCheckpoint, reused as "
    "model input and scoring probe), THREE aggregates of the "
    "bigram-TYPE table (vocabulary^2-sparse, far below corpus scale) "
    "derive c1/N1fw/N1bw/T without re-touching the corpus, and the "
    "model joins back onto the stream keyed (w1,w2) — AQE picks "
    "broadcast vs shuffle by the model's runtime size (tiny here; "
    "1e9-type corpora fall back to a sort-merge join on the same "
    "key). Ref: no reference analog; public KN formula.",
)
def q_text_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    ex = base.select(
        "doc_id", F.size("tk").alias("n"), "tk", F.posexplode("tk").alias("pos", "tok")
    )
    big = ex.filter(F.col("pos") <= F.col("n") - 2).select(
        "doc_id",
        F.col("tok").alias("w1"),
        F.element_at("tk", F.col("pos") + 2).alias("w2"),
    )
    # one bigram pass feeds both the model and the probe (lm_score's
    # measured pattern); the TYPE table feeds four model aggregates
    big = big.localCheckpoint(eager=True)
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    bc = bc.localCheckpoint(eager=True)
    uc = bc.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1fw"),
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("n1bw"))
    tt = bc.agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    disc = F.lit(KN_D) * F.col("n1fw") * F.col("n1bw") / F.col("t")
    prob = (
        F.greatest(F.col("c12").cast("double") - KN_D, F.lit(0.0)) + disc
    ) / F.col("c1")
    p = (
        bc.join(uc, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tt))
        .select("w1", "w2", prob.alias("p"))
    )
    return (
        big.join(p, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(F.round(F.log("p"), 9).cast("decimal(28,9)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("kn_logprob"),
        )
    )


# ------------------------------------------------- Aho-Corasick tagging
AC_PATTERNS = (
    "batch batch",
    "hash join",
    "key order",
    "merge join",
    "slow query",
    "sort merge",
    "spark",
    "table scan",
    "vector",
    "window window",
)


def _ac_build(patterns: tuple[str, ...]):
    """Aho-Corasick automaton (Aho & Corasick 1975, CACM 18(6)):
    goto trie + BFS failure links + merged output sets. Built once per
    mapInPandas task from the closure-captured pattern tuple —
    automaton size is O(total pattern chars), independent of corpus."""
    goto: list[dict[str, int]] = [{}]
    fail = [0]
    out: list[tuple[int, ...]] = [()]
    for pi, p in enumerate(patterns):
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                fail.append(0)
                out.append(())
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s] = out[s] + (pi,)
    from collections import deque

    dq = deque(goto[0].values())
    while dq:
        r = dq.popleft()
        for ch, s in goto[r].items():
            dq.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            t = goto[f].get(ch, 0)
            fail[s] = 0 if t == s else t
            out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def _pattern_list_sql() -> str:
    return "[" + ", ".join(f"'{p}'" for p in AC_PATTERNS) + "]"


@register(
    "text_multipattern_tags",
    oracle=f"""
    WITH pats AS (SELECT unnest({_pattern_list_sql()}) AS pattern),
    hits AS (
      SELECT d.doc_id, p.pattern,
             CAST(len(list_filter(range(1, len(d.text) - len(p.pattern) + 2),
                  i -> substr(d.text, i, len(p.pattern)) = p.pattern))
                  AS BIGINT) AS n_hits
      FROM documents d CROSS JOIN pats p
    )
    SELECT doc_id, pattern, n_hits FROM hits WHERE n_hits > 0
    """,
    doc=f"Multi-pattern keyword tagging via Aho-Corasick (Aho & Corasick "
    f"1975): count every (overlapping) occurrence of {len(AC_PATTERNS)} "
    "literal phrases in every document in ONE character pass per doc — "
    "the keyword/PII/blocklist tagger of a curation pipeline, where "
    "the pattern dictionary reaches 1e4-1e6 entries and per-pattern "
    "scans (P passes, the oracle's shape) stop being affordable. The "
    "automaton (goto trie + failure links + merged output sets) builds "
    "once per task from the broadcast-closure pattern tuple, "
    "O(dictionary chars) memory regardless of corpus size; the scan is "
    "O(chars + matches) per doc inside an Arrow mapInPandas batch — "
    "Python is justified here because character-level automaton "
    "traversal has no JVM higher-order-function form (a per-pattern "
    "locate() composition would be P corpus passes). Overlapping and "
    "nested matches both count ('window window window' -> 2; 'spark' "
    "inside longer tokens too), exactly matching the oracle's "
    "every-position substring scan. No shuffle at all: scan -> map -> "
    "filter; output is (doc_id, pattern, n_hits>0). At 100 TB this is "
    "embarrassingly parallel and the dictionary broadcast is the only "
    "shared state. Ref: no reference analog; public AC algorithm.",
)
def q_text_multipattern_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table_parallel(spark, sf_dir, "documents")
    pats = AC_PATTERNS

    def scan(batches):
        goto, fail, out = _ac_build(pats)
        root = goto[0]
        for pdf in batches:
            ids: list[int] = []
            names: list[str] = []
            hits: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                counts = [0] * len(pats)
                s = 0
                for ch in text:
                    while s and ch not in goto[s]:
                        s = fail[s]
                    s = goto[s].get(ch, 0) if s else root.get(ch, 0)
                    if out[s]:
                        for pi in out[s]:
                            counts[pi] += 1
                for pi, c in enumerate(counts):
                    if c:
                        ids.append(doc_id)
                        names.append(pats[pi])
                        hits.append(c)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "pattern": pd.array(names, dtype="string"),
                    "n_hits": pd.array(hits, dtype="int64"),
                }
            )

    return d.select("doc_id", "text").mapInPandas(
        scan, "doc_id bigint, pattern string, n_hits bigint"
    )


@register(
    "vocab_zipf_fit",
    oracle=f"""
    WITH t AS (SELECT unnest({_TOKENS_SQL}) AS term FROM documents),
    freq AS (SELECT term, CAST(count(*) AS BIGINT) AS f FROM t GROUP BY term),
    rk AS (
      SELECT row_number() OVER (ORDER BY f DESC, term ASC) AS r, f
      FROM freq
    ),
    pts AS (
      SELECT round(ln(CAST(r AS DOUBLE)), 9) AS x,
             round(ln(CAST(f AS DOUBLE)), 9) AS y
      FROM rk
    ),
    s AS MATERIALIZED (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(28,9))) AS DOUBLE) AS sx,
             CAST(sum(CAST(y AS DECIMAL(28,9))) AS DOUBLE) AS sy,
             CAST(sum(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(round(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT n AS n_terms,
           round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) + 0 AS slope,
           round(sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n)
                 * (sx / n), 6) + 0 AS intercept,
           round((sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2
    FROM s
    """,
    doc="Zipf's-law fit over the corpus word-frequency distribution: "
    "OLS of ln(freq) on ln(rank) — slope ~ -1 is the signature of "
    "natural language (Zipf 1949; Piantadosi 2014), and a corpus "
    "whose slope drifts far from it (too flat = scrambled/templated "
    "text, too steep = token collapse) fails the same intake gate "
    "vocab_heaps_law checks from the growth side; together they are "
    "the two classic vocabulary power laws. Determinism: frequencies "
    "are exact integers; rank is a deterministic (freq desc, term "
    "asc) row_number; each ln/product term rounds to 9dp and sums as "
    "DECIMAL(28,9) (order-independent), and the closed-form OLS "
    "slope/intercept/r2 are fixed-shape doubles rounded 6dp. Plan: "
    "one token explode -> term aggregate (the corpus pass), then a "
    "vocabulary-sized global sort for ranks and one 1-row moment "
    "aggregate; at 1e9-term vocabularies the sort is the cost and a "
    "bucketed rank (range partitioner) replaces it — the output "
    "stays one row. Ref: no reference analog; public Zipf/OLS.",
)
def q_vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.explode(tokens_col(F.col("text"))).alias("term"))
    freq = t.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    w = Window.orderBy(F.col("f").desc(), F.col("term").asc())
    pts = freq.select(F.row_number().over(w).alias("r"), "f").select(
        F.round(F.log(F.col("r").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("f").cast("double")), 9).alias("y"),
    )

    def dsum(c):
        return F.sum(c.cast("decimal(28,9)")).cast("double")

    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.round(F.col("x") * F.col("y"), 9)).alias("sxy"),
        dsum(F.round(F.col("x") * F.col("x"), 9)).alias("sxx"),
        dsum(F.round(F.col("y") * F.col("y"), 9)).alias("syy"),
    )
    n = F.col("n")
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / n
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    vy = F.col("syy") - F.col("sy") * F.col("sy") / n
    slope = cov / vx
    return s.select(
        n.alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("sy") / n - slope * (F.col("sx") / n), 6).alias("intercept"),
        F.round(cov * cov / (vx * vy), 6).alias("r2"),
    )


# ------------------------------------------ PPS systematic sampling
PPS_STEPS = 50  # target sample size (one draw per weight stratum)


@register(
    "sample_pps_systematic",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS wt
      FROM documents
    ),
    c AS (
      SELECT doc_id, wt,
             CAST(sum(wt) OVER (ORDER BY doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM w
    ),
    tot AS MATERIALIZED (SELECT CAST(sum(wt) AS BIGINT) AS t FROM w)
    SELECT c.doc_id, c.wt,
           CAST((c.cum * {PPS_STEPS}) // tot.t AS BIGINT) AS stratum
    FROM c CROSS JOIN tot
    WHERE (c.cum * {PPS_STEPS}) // tot.t
          > ((c.cum - c.wt) * {PPS_STEPS}) // tot.t
    ORDER BY c.doc_id ASC
    """,
    doc="Systematic probability-proportional-to-size sampling (PPS; "
    "Madow 1949 — the fixed-interval walk down the cumulative weight "
    "axis): a document is drawn when its weight interval spans a "
    f"multiple of total_weight/{PPS_STEPS}, so inclusion probability "
    "is exactly proportional to size (here n_chars — 'sample tokens, "
    "not documents', the correct unit when the training budget is "
    "measured in tokens) and the draw count is FIXED at ~"
    f"{PPS_STEPS} with zero variance in sample size, unlike the "
    "Bernoulli/priority samplers beside it (sample_weighted_priority "
    "draws a random-size sample; this one fills an exact token "
    "budget). Deterministic zero-offset variant: draw points are "
    "k*T/{steps} exactly, expressed in pure BIGINT floor division "
    "(cum*steps//T strictly increases across a selected row's "
    "interval) — no doubles anywhere. Plan: one window cumsum over "
    "the doc_id order + a 1-row total broadcast into a map-side "
    "interval test. At 100 TB the global cumsum is a two-pass "
    "range-partitioned prefix sum (per-partition subtotals broadcast "
    "back — the standard distributed scan); everything else stays "
    "map-side. Ref: no reference analog; public PPS-systematic "
    "design.",
)
def q_sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.col("n_chars").cast("bigint").alias("wt"))
    win = Window.orderBy(F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = w.select(
        "doc_id", "wt", F.sum("wt").over(win).cast("bigint").alias("cum")
    )
    tot = w.agg(F.sum("wt").cast("bigint").alias("t"))
    hi = F.expr(f"(cum * {PPS_STEPS}) div t")
    lo = F.expr(f"((cum - wt) * {PPS_STEPS}) div t")
    return (
        c.crossJoin(F.broadcast(tot))
        .filter(hi > lo)
        .select("doc_id", "wt", hi.cast("bigint").alias("stratum"))
        .orderBy(F.col("doc_id").asc())
    )


# --------------------------------------- temporal purged train/test
PURGE_TRAIN_END = "1998-01-01"
PURGE_GAP_DAYS = 90


@register(
    "train_test_split_temporal_purged",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             CASE
               WHEN o_orderdate < DATE '{PURGE_TRAIN_END}' THEN 'train'
               WHEN o_orderdate >= DATE '{PURGE_TRAIN_END}'
                    + INTERVAL {PURGE_GAP_DAYS} DAY THEN 'test'
               ELSE 'gap'
             END AS split
      FROM orders
    ),
    leaky AS MATERIALIZED (
      SELECT DISTINCT o_custkey FROM o WHERE split = 'gap'
    ),
    final AS (
      SELECT o.o_orderkey, o.o_custkey, o.split,
             CASE WHEN o.split = 'train' AND l.o_custkey IS NOT NULL
                  THEN 1 ELSE 0 END AS purged
      FROM o LEFT JOIN leaky l ON l.o_custkey = o.o_custkey
      WHERE o.split <> 'gap'
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(purged) AS BIGINT) AS n_purged,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_entities
    FROM final GROUP BY split ORDER BY split ASC
    """,
    doc="Temporal train/test split with an embargo gap and entity "
    "purging (the de Prado 2018 'purged K-fold' discipline, one "
    f"fold): train < {PURGE_TRAIN_END}, test >= train_end + "
    f"{PURGE_GAP_DAYS} days, and train rows belonging to entities "
    "ACTIVE INSIDE the gap are flagged as purge candidates — the "
    "leakage that random/hash splits cannot see (an entity whose "
    "behavior straddles the boundary carries test-period information "
    "into train features). Completes the split family: hash "
    "(train_test_split_hash) for iid, source-stratified "
    "(train_test_split_by_source) for domain shift, temporal-purged "
    "for time-ordered label horizons. Determinism: pure date "
    "arithmetic and integer counts. Plan: one map-side split tag, "
    "one distinct over the (small) gap window's entities broadcast "
    "back as the purge probe, one group aggregate — the gap-entity "
    "frame is bounded by the embargo window, not the corpus. Ref: "
    "no reference analog; public purged-CV design.",
)
def q_train_test_split_temporal_purged(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    split = (
        F.when(F.col("o_orderdate") < PURGE_TRAIN_END, "train")
        .when(
            F.col("o_orderdate")
            >= F.date_add(F.lit(PURGE_TRAIN_END).cast("date"), PURGE_GAP_DAYS),
            "test",
        )
        .otherwise("gap")
    )
    tagged = o.select("o_orderkey", "o_custkey", split.alias("split"))
    tagged = tagged.localCheckpoint(eager=True)  # feeds gap probe + final
    leaky = (
        tagged.filter(F.col("split") == "gap").select("o_custkey").distinct()
    )
    final = (
        tagged.filter(F.col("split") != "gap")
        .join(
            F.broadcast(leaky.withColumn("leak", F.lit(1))), "o_custkey", "left"
        )
        .select(
            "split",
            "o_custkey",
            F.when(
                (F.col("split") == "train") & F.col("leak").isNotNull(), 1
            )
            .otherwise(0)
            .alias("purged"),
        )
    )
    return (
        final.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("purged").cast("bigint").alias("n_purged"),
            F.count_distinct("o_custkey").cast("bigint").alias("n_entities"),
        )
        .orderBy(F.col("split").asc())
    )


# ------------------------------------------------- RAKE keyword extraction
RAKE_MAX_PHRASE = 4  # RAKE convention: cap candidate phrases at 4 words
RAKE_TOP_K = 20
_RAKE_STOP_SQL = "('" + "', '".join(STOPWORDS) + "')"


@register(
    "text_keyword_rake",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, u.tok, u.pos
      FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
           LATERAL (SELECT unnest(tk) AS tok,
                           generate_subscripts(tk, 1) AS pos) u
    ),
    nonstop AS (
      SELECT doc_id, tok, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM tok WHERE tok NOT IN {_RAKE_STOP_SQL} AND tok <> ''
    ),
    phrases AS (
      SELECT doc_id, island,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM nonstop GROUP BY doc_id, island
      HAVING count(*) <= {RAKE_MAX_PHRASE}
    ),
    wstat AS (
      SELECT n.tok,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(p.plen) AS BIGINT) AS deg
      FROM nonstop n JOIN phrases p USING (doc_id, island)
      GROUP BY n.tok
    ),
    wscore AS (
      SELECT tok, round(CAST(deg AS DOUBLE) / freq, 9) AS ws FROM wstat
    ),
    pscore AS (
      SELECT p.phrase,
             CAST(count(DISTINCT (p.doc_id, p.island)) AS BIGINT) AS n_occ,
             CAST(sum(CAST(w.ws AS DECIMAL(28,9))) AS DOUBLE)
               / count(DISTINCT (p.doc_id, p.island)) AS score
      FROM phrases p
      JOIN nonstop n USING (doc_id, island)
      JOIN wscore w ON w.tok = n.tok
      GROUP BY p.phrase
    )
    SELECT phrase, n_occ, round(score, 6) AS rake_score
    FROM pscore
    ORDER BY rake_score DESC, phrase ASC
    LIMIT {RAKE_TOP_K}
    """,
    doc="RAKE keyword extraction (Rose et al. 2010, 'Automatic Keyword "
    "Extraction from Individual Documents', in Text Mining) — "
    "corpus-level: candidate phrases are maximal stopword-free token "
    f"runs (gaps-and-islands on pos - row_number), capped at "
    f"{RAKE_MAX_PHRASE} words; word score = deg(w)/freq(w) over all "
    "candidate occurrences; phrase score = sum of member word scores "
    f"(per occurrence; identical phrases average). Top {RAKE_TOP_K} "
    "with a deterministic (score, phrase) tiebreak. The unsupervised "
    "complement to text_tfidf_topk (tf-idf needs the corpus df "
    "contrast; RAKE's degree/frequency signal is intra-phrase "
    "co-occurrence). Cross-engine: word scores round to 9dp before "
    "the phrase sum, which rides the decimal accumulator; phrase "
    "assembly is ORDER-keyed string_agg / array_sort(collect_list). "
    "Plan: one posexplode feeds both the island window (per-doc "
    "partitions) and the word stats; phrase and word tables shuffle "
    "on their natural keys; nothing is vocabulary-broadcast. At "
    "100 TB the phrase table is explode-bounded and the final top-k "
    "is a single ordered limit. Ref: no reference analog.",
)
def q_text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    wisl = Window.partitionBy("doc_id").orderBy("pos")
    nonstop = (
        tok.filter(~F.col("tok").isin(*STOPWORDS) & (F.col("tok") != ""))
        .withColumn("island", F.col("pos") - F.row_number().over(wisl))
        .localCheckpoint(eager=False)  # feeds phrases, wstat, pscore
    )
    phrases = (
        nonstop.groupBy("doc_id", "island")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
                " x -> x.tok), ' ')"
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
        )
        .filter(F.col("plen") <= RAKE_MAX_PHRASE)
        .localCheckpoint(eager=False)  # feeds wstat and pscore
    )
    wstat = (
        nonstop.join(phrases, ["doc_id", "island"])
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    wscore = wstat.select(
        "tok", F.round(F.col("deg").cast("double") / F.col("freq"), 9).alias("ws")
    )
    pscore = (
        phrases.join(nonstop, ["doc_id", "island"])
        .join(wscore, "tok")
        .groupBy("phrase")
        .agg(
            F.count_distinct(F.struct("doc_id", "island"))
            .cast("bigint")
            .alias("n_occ"),
            (
                F.sum(F.col("ws").cast("decimal(28,9)")).cast("double")
                / F.count_distinct(F.struct("doc_id", "island"))
            ).alias("score"),
        )
    )
    return (
        pscore.select("phrase", "n_occ", F.round("score", 6).alias("rake_score"))
        .orderBy(F.col("rake_score").desc(), F.col("phrase").asc())
        .limit(RAKE_TOP_K)
    )


# -------------------------------------------- sentence segmentation
@register(
    "text_sentence_segmentation",
    oracle=r"""
    WITH marked AS (
      SELECT doc_id,
             regexp_replace(trim(text), '([.!?]) ', '\1' || chr(1), 'g')
               AS m
      FROM documents
    ),
    sent AS (
      SELECT doc_id, trim(u.s) AS s
      FROM marked, LATERAL (SELECT unnest(string_split(m, chr(1))) AS s) u
      WHERE trim(u.s) <> ''
    ),
    st AS (
      SELECT doc_id, len(string_split_regex(s, '\s+')) AS n_toks
      FROM sent
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_sentences,
           round(CAST(sum(n_toks) AS DOUBLE) / count(*), 4)
             AS mean_sent_tokens,
           CAST(max(n_toks) AS BIGINT) AS max_sent_tokens
    FROM st GROUP BY doc_id
    """,
    doc="Sentence segmentation profile: split on terminal punctuation "
    "([.!?] followed by a space - the capture-and-mark form, since "
    "RE2/Java lookbehind portability differs), then per-doc sentence "
    "count, mean and max sentence length in tokens - the "
    "distributional signal RefinedWeb/Gopher-class quality gates "
    "read next to word counts (quality_gopher_rules) and the chunk "
    "pre-pass for sentence-bounded packing (pack_sequences splits "
    "mid-sentence without it). Determinism: one regexp_replace "
    "marks boundaries with a control char, one split, identical "
    "token counting both engines; the mark char (chr(1)) cannot "
    "appear in the generated corpus. Plan: pure per-row map into "
    "one partial->final per-doc aggregate - embarrassingly parallel "
    "at any scale. Ref: no reference analog.",
)
def q_text_sentence_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    mark = "\u0001"
    sent = (
        d.select(
            "doc_id",
            F.explode(
                F.split(
                    F.regexp_replace(
                        F.trim(F.col("text")), r"([.!?]) ", "$1" + mark
                    ),
                    mark,
                )
            ).alias("s0"),
        )
        .select("doc_id", F.trim(F.col("s0")).alias("s"))
        .filter(F.col("s") != "")
    )
    st = sent.select("doc_id", F.size(F.split(F.col("s"), r"\s+")).alias("n_toks"))
    return st.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
        F.round(F.sum("n_toks").cast("double") / F.count(F.lit(1)), 4).alias(
            "mean_sent_tokens"
        ),
        F.max("n_toks").cast("bigint").alias("max_sent_tokens"),
    )


# ------------------------------------------ WordPiece greedy encoding
WP_MAX_PIECE = 4  # max piece length in chars
WP_MIN_WORDS = 3  # multi-char piece must appear in >= this many words


@register(
    "tokenizer_wordpiece_encode",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS w FROM documents
    ),
    words AS (SELECT DISTINCT w FROM tok WHERE w <> ''),
    pieces AS (
      SELECT w, s, e, substr(w, s, e - s + 1) AS piece
      FROM words, LATERAL (
        SELECT a AS s, b AS e
        FROM (SELECT unnest(range(1, len(w) + 1)) AS a),
             (SELECT unnest(range(1, len(w) + 1)) AS b)
        WHERE b >= a AND b - a < {WP_MAX_PIECE}
      )
    ),
    vocab AS (
      SELECT piece FROM pieces GROUP BY piece
      HAVING count(DISTINCT w) >= {WP_MIN_WORDS} OR len(piece) = 1
    ),
    pv AS (SELECT p.w, p.s, p.e FROM pieces p JOIN vocab v USING (piece)),
    seg AS (
      WITH RECURSIVE r(w, pos, n) AS (
        SELECT w, 0, 0 FROM words
        UNION ALL
        SELECT r.w,
               (SELECT max(p.e) FROM pv p
                WHERE p.w = r.w AND p.s = r.pos + 1),
               r.n + 1
        FROM r WHERE r.pos < len(r.w)
      )
      SELECT w, CAST(n AS BIGINT) AS n_pieces FROM r WHERE pos = len(w)
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(s.n_pieces) AS BIGINT) AS n_wordpieces
    FROM tok t JOIN seg s USING (w)
    GROUP BY t.doc_id
    """,
    doc="WordPiece tokenization by greedy longest-match-first (Wu et "
    "al. 2016, 'Google's Neural Machine Translation System', the "
    "BERT tokenizer's encode rule): per word, repeatedly take the "
    f"LONGEST vocabulary piece (<= {WP_MAX_PIECE} chars; multi-char "
    f"pieces must occur in >= {WP_MIN_WORDS} distinct words, every "
    "single char is in-vocab so segmentation never fails) that "
    "prefixes the remainder — the deterministic greedy counterpart "
    "to tokenizer_bpe_encode's merge-table replay, and the second "
    "of the three production subword families (BPE done, WordPiece "
    "here, unigram-LM future work). The sequential-looking scan is "
    "a per-word integer fold: Spark runs it as one higher-order "
    "aggregate() over the char positions against the word's own "
    "piece list (JVM codegen, no UDF); the oracle is a recursive "
    "CTE — both pure integer state (pos, n), so the fold is "
    "bit-identical. Plan: piece enumeration and the greedy fold run "
    "once per DISTINCT word (vocabulary-bounded, never corpus-"
    "bounded); the vocab and encode joins are plain equi-joins with "
    "NO broadcast hint (AQE decides — the tokenizer_bpe_encode "
    "discipline); the corpus pays one token explode + one keyed "
    "join + one per-doc aggregate. Ref: no reference analog; "
    "public Wu 2016 / BERT.",
)
def q_tokenizer_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("w")).filter(
        F.col("w") != ""
    )
    words = tok.select("w").distinct().localCheckpoint(eager=False)
    pieces = words.selectExpr(
        "w",
        "explode(flatten(transform(sequence(1, length(w)), "
        f"a -> transform(sequence(a, least(length(w), a + {WP_MAX_PIECE - 1})), "
        "b -> struct(a AS s, b AS e))))) AS se",
    ).selectExpr("w", "se.s AS s", "se.e AS e", "substring(w, se.s, se.e - se.s + 1) AS piece")
    pieces = pieces.localCheckpoint(eager=False)  # feeds vocab + pv
    vocab = (
        pieces.groupBy("piece")
        .agg(F.count_distinct("w").alias("nw"))
        .filter((F.col("nw") >= WP_MIN_WORDS) | (F.length("piece") == 1))
        .select("piece")
    )
    pv = pieces.join(vocab, "piece").select("w", "s", "e")
    pl = pv.groupBy("w").agg(
        F.expr("collect_list(struct(s, e))").alias("pl")
    )
    seg = pl.selectExpr(
        "w",
        f"""CAST(aggregate(sequence(1, length(w)),
              named_struct('pos', 0, 'n', 0),
              (acc, i) -> CASE WHEN acc.pos >= length(w) THEN acc
                ELSE named_struct(
                  'pos', array_max(transform(
                     filter(pl, p -> p.s = acc.pos + 1), p -> p.e)),
                  'n', acc.n + 1) END
            ).n AS BIGINT) AS n_pieces""",
    )
    return (
        tok.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_wordpieces"),
        )
    )


# ---------------------------------------- unigram-LM Viterbi encoding
UNI_MAX_PIECE = 4
UNI_MIN_FREQ = 10  # corpus-weighted occurrence floor for multi-char pieces
UNI_SCALE = 10**6  # cost unit: micro-nats
UNI_PACK = 256  # combined = cost * PACK + n_pieces (word len << 256)


@register(
    "tokenizer_unigram_viterbi",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS w FROM documents
    ),
    wf AS (SELECT w, CAST(count(*) AS BIGINT) AS wf
           FROM tok WHERE w <> '' GROUP BY w),
    pieces AS (
      SELECT w, s, e, substr(w, s, e - s + 1) AS piece
      FROM wf, LATERAL (
        SELECT a AS s, b AS e
        FROM (SELECT unnest(range(1, len(w) + 1)) AS a),
             (SELECT unnest(range(1, len(w) + 1)) AS b)
        WHERE b >= a AND b - a < {UNI_MAX_PIECE}
      )
    ),
    pfreq AS (
      SELECT p.piece, CAST(sum(f.wf) AS BIGINT) AS freq
      FROM pieces p JOIN wf f USING (w) GROUP BY p.piece
    ),
    vocab AS (
      SELECT piece, freq FROM pfreq
      WHERE freq >= {UNI_MIN_FREQ} OR len(piece) = 1
    ),
    ttot AS (SELECT CAST(sum(freq) AS BIGINT) AS t FROM vocab),
    costs AS (
      SELECT piece,
             CAST(round(-{UNI_SCALE} * ln(CAST(freq AS DOUBLE) / t.t))
               AS BIGINT) AS c
      FROM vocab CROSS JOIN ttot t
    ),
    pv AS (
      SELECT p.w, p.s, p.e, c.c
      FROM pieces p JOIN costs c USING (piece)
    ),
    seg AS (
      WITH RECURSIVE r(w, i, bl) AS (
        SELECT w, 0, [CAST(0 AS BIGINT)] FROM wf
        UNION ALL
        SELECT r.w, r.i + 1,
               list_append(r.bl, (
                 SELECT min(r.bl[p.s] + p.c * {UNI_PACK} + 1)
                 FROM pv p WHERE p.w = r.w AND p.e = r.i + 1))
        FROM r WHERE r.i < len(r.w)
      )
      SELECT w,
             CAST(bl[len(w) + 1] % {UNI_PACK} AS BIGINT) AS n_pieces,
             CAST(bl[len(w) + 1] // {UNI_PACK} AS BIGINT) AS cost
      FROM r WHERE i = len(w)
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(s.n_pieces) AS BIGINT) AS n_subwords,
           CAST(sum(s.cost) AS BIGINT) AS cost_micronats
    FROM tok t JOIN seg s USING (w)
    GROUP BY t.doc_id
    """,
    doc="Unigram-LM subword segmentation by exact Viterbi (Kudo 2018, "
    "ACL, 'Subword Regularization' — the SentencePiece unigram "
    "model's decode step): per word, the minimum-cost segmentation "
    f"under piece costs -ln(freq/T) in integer micro-nats (<= "
    f"{UNI_MAX_PIECE}-char pieces, corpus-weighted frequency floor "
    f"{UNI_MIN_FREQ}, singles always in-vocab). Completes the "
    "production subword triple: BPE (merge replay), WordPiece "
    "(greedy longest-match), unigram (global optimum). The DP "
    "carries ONE packed bigint per prefix position — combined = "
    f"cost*{UNI_PACK} + n_pieces, so min() simultaneously optimizes "
    "cost and breaks ties toward fewer pieces with pure integer "
    "arithmetic (no float comparisons cross-engine). Spark runs the "
    "DP as a higher-order aggregate() building the best-cost array "
    "in codegen; the oracle is a recursive CTE carrying the same "
    "array. Vocabulary statistics, costs, and the DP all run per "
    "DISTINCT word (vocabulary-bounded); the corpus pays one token "
    "explode + one keyed join + one per-doc aggregate, and no join "
    "carries a broadcast hint. Ref: no reference analog; public "
    "Kudo 2018.",
)
def q_tokenizer_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("w")).filter(
        F.col("w") != ""
    )
    wf = tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("wf"))
    wf = wf.localCheckpoint(eager=False)  # feeds pieces + pfreq + seg base
    pieces = wf.selectExpr(
        "w",
        "wf",
        "explode(flatten(transform(sequence(1, length(w)), "
        f"a -> transform(sequence(a, least(length(w), a + {UNI_MAX_PIECE - 1})), "
        "b -> struct(a AS s, b AS e))))) AS se",
    ).selectExpr(
        "w", "wf", "se.s AS s", "se.e AS e",
        "substring(w, se.s, se.e - se.s + 1) AS piece",
    )
    pieces = pieces.localCheckpoint(eager=False)  # feeds pfreq + pv
    pfreq = pieces.groupBy("piece").agg(F.sum("wf").cast("bigint").alias("freq"))
    vocab = pfreq.filter(
        (F.col("freq") >= UNI_MIN_FREQ) | (F.length("piece") == 1)
    )
    tt = vocab.agg(F.sum("freq").cast("bigint").alias("t"))
    costs = vocab.crossJoin(F.broadcast(tt)).select(
        "piece",
        F.round(
            -F.lit(float(UNI_SCALE)) * F.log(F.col("freq").cast("double") / F.col("t"))
        )
        .cast("bigint")
        .alias("c"),
    )
    pv = pieces.join(costs, "piece").select("w", "s", "e", "c")
    pl = pv.groupBy("w").agg(F.expr("collect_list(struct(s, e, c))").alias("pl"))
    seg = pl.selectExpr(
        "w",
        f"""element_at(aggregate(sequence(1, length(w)),
              array(CAST(0 AS BIGINT)),
              (acc, i) -> concat(acc, array(
                array_min(transform(filter(pl, p -> p.e = i),
                  p -> element_at(acc, p.s) + p.c * {UNI_PACK} + 1))))
            ), length(w) + 1) AS combined""",
    ).selectExpr(
        "w",
        f"CAST(combined % {UNI_PACK} AS BIGINT) AS n_pieces",
        f"CAST(combined div {UNI_PACK} AS BIGINT) AS cost",
    )
    return (
        tok.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_pieces").cast("bigint").alias("n_subwords"),
            F.sum("cost").cast("bigint").alias("cost_micronats"),
        )
    )
