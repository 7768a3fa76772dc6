"""Value-level tests for ``operators/text.py``: tokenizers, language
models, quality filters, samplers, retrieval scorers and vocabulary
statistics, on planted corpora whose answer is known a priori. Oracle
parity is covered by tests/test_oracle_parity.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from jaffle_shop_classic_spark.operators.catalog import load_catalog
from jaffle_shop_classic_spark.operators.text import tokens_col
from jaffle_shop_classic_spark.sources.parquet import load_table

from conftest import write_docs


def test_mixture_weights_uniform_budget_split(spark, tmp_path):
    """Two sources, 3:1 token imbalance, budget 10M: targets split the
    budget evenly; the scarcer source is oversampled with weight
    target/avail exactly."""
    docs = [(i, "a b c d e f", "en", "big", 11) for i in range(300)]
    docs += [(1000 + i, "a b c d e f", "en", "small", 11) for i in range(100)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r["source"]: r
        for r in load_catalog()["data_mixture_weights"].fn(spark, str(tmp_path)).collect()
    }
    assert rows["big"]["avail_tokens"] == 1800 and rows["small"]["avail_tokens"] == 600
    for r in rows.values():
        assert r["target_tokens"] == 5_000_000
        assert r["oversampled"] is True
        assert abs(r["sample_weight"] - round(5_000_000 / r["avail_tokens"], 6)) < 1e-9
    # 3:1 availability inverts to a 3:1 weight ratio (up to the 6dp
    # projection rounding on each side)
    assert abs(rows["small"]["sample_weight"] - 3 * rows["big"]["sample_weight"]) < 1e-5


def test_rouge_l_planted_lcs(spark, tmp_path):
    """Two-doc source with a hand-computable LCS: cand='a b c d',
    ref='a x c y' share the in-order subsequence (a, c) -> LCS=2,
    P=R=F1=0.5. A second identical-pair source scores exactly 1."""
    docs = [
        (1, "a b c d", "en", "s1", 7),
        (2, "a x c y", "en", "s1", 7),
        (10, "p q r", "en", "s2", 5),
        (11, "p q r", "en", "s2", 5),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r["source"]: r
        for r in load_catalog()["text_rouge_l"].fn(spark, str(tmp_path)).collect()
    }
    s1, s2 = rows["s1"], rows["s2"]
    assert (s1["n_pairs"], s1["sum_lcs"], s1["sum_len_c"], s1["sum_len_r"]) == (1, 2, 4, 4)
    assert s1["rouge_l_p"] == 0.5 and s1["rouge_l_r"] == 0.5 and s1["rouge_l_f1"] == 0.5
    assert (s2["rouge_l_p"], s2["rouge_l_r"], s2["rouge_l_f1"]) == (1.0, 1.0, 1.0)


def test_kl_divergence_symmetry_and_separation(spark, tmp_path):
    """Two identical-content sources must score the SAME KL (their
    smoothed distributions are interchangeable), a vocabulary-disjoint
    source must score strictly higher, and every smoothed KL is
    nonnegative (both sides are proper distributions over the shared
    vocabulary)."""
    docs = [(i, "a b c a b c", "en", "twin1", 11) for i in range(50)]
    docs += [(100 + i, "a b c a b c", "en", "twin2", 11) for i in range(50)]
    docs += [(200 + i, "x y z w v u", "en", "alien", 11) for i in range(10)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r["source"]: r["kl_vs_corpus"]
        for r in load_catalog()["source_kl_divergence"].fn(spark, str(tmp_path)).collect()
    }
    assert rows["twin1"] == rows["twin2"]
    assert all(v >= 0 for v in rows.values())
    assert rows["alien"] > rows["twin1"] + 0.5  # disjoint vocab dominates


def test_char_entropy_gate_flags_degenerate_text(spark, tmp_path):
    """'aaaa...' has 0 entropy and must be flagged; varied text clears
    the gate; empty text yields NULLs."""
    import math

    docs = [
        (0, "a" * 50, "en", "s", 50),
        (1, "the quick brown fox jumps over the lazy dog with zeal", "en", "s", 53),
        (2, "", "en", "s", 0),
        (3, "ababababab", "en", "s", 10),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r["doc_id"]: r
        for r in load_catalog()["text_char_entropy_gate"].fn(spark, str(tmp_path)).collect()
    }
    assert rows[0]["entropy_bits"] == 0.0 and rows[0]["is_low_entropy"] is True
    assert rows[1]["entropy_bits"] > 3.5 and rows[1]["is_low_entropy"] is False
    assert rows[2]["entropy_bits"] is None and rows[2]["is_low_entropy"] is None
    assert rows[3]["entropy_bits"] == round(math.log2(2), 6) == 1.0
    assert rows[3]["is_low_entropy"] is True


def test_gopher_rules_flag_each_planted_violation(spark, tmp_path):
    """Gopher quality gate: one document per rule violation, each
    engineered to fail EXACTLY that rule (others hold), plus one clean
    passer — the per-rule booleans must isolate the planted defect."""
    from jaffle_shop_classic_spark.operators.catalog import load_catalog

    good_words = ("the quick brown foxes jumped over that lazy hound "
                  "keeping pace with every passing season ") * 6  # 60 words
    docs = {
        1: good_words,  # passes everything
        2: "the of and that have with just a few words here",  # 11 words < 50
        3: ("#### " + good_words).replace("jumped", "####ed"),  # symbol spam
        4: " ".join(["12345"] * 30 + good_words.split()[:30]),  # 50% non-alpha
        5: " ".join(["zq"] * 60),  # mean word length 2 < 3, no stopwords
        6: "\n".join(["- bullet line of the have"] * 10),  # 100% bullets
        7: "\n".join([f"the sentence number {i} trails off..." for i in range(10)]),
    }
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    rows = {
        r["doc_id"]: r
        for r in load_catalog()["quality_gopher_rules"].fn(spark, str(tmp_path)).collect()
    }
    assert rows[1]["pass_gopher"], rows[1]
    assert not rows[2]["words_in_range"] and rows[2]["stopwords_ok"]
    assert not rows[3]["symbol_ratio_ok"]
    assert not rows[4]["alpha_ratio_ok"] and rows[4]["words_in_range"]
    assert not rows[5]["mean_word_len_ok"] and not rows[5]["stopwords_ok"]
    assert not rows[6]["bullet_ok"]
    assert not rows[7]["ellipsis_ok"]
    for i in range(2, 8):
        assert not rows[i]["pass_gopher"], i


def test_dsir_importance_matches_exact_python_twin(spark, tmp_path):
    """DSIR importance weights: plant a corpus where the target (en)
    docs share one bigram vocabulary and the off-target docs another,
    then check every Spark score bit-for-bit against a Python twin that
    mirrors the operator's arithmetic (md5 bucket fold, one ln per
    bucket, micro-unit requantization, integer sums) — and that the
    ordering separates target-like from off-target docs."""
    import hashlib
    import math

    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.operators.text import DSIR_BUCKETS

    docs = [
        (1, "alpha beta alpha beta alpha", "en"),
        (2, "alpha beta gamma", "en"),
        (3, "gamma delta gamma delta", "de"),
        (4, "delta gamma delta", "de"),
        (5, "alpha beta epsilon zeta", "fr"),  # target-like content
    ]
    spark.createDataFrame(
        [(i, t, lang, "src0", len(t)) for i, t, lang in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    rows = {
        r["doc_id"]: r
        for r in load_catalog()["sample_dsir_importance"]
        .fn(spark, str(tmp_path))
        .collect()
    }

    def bucket(bg: str) -> int:
        return int(hashlib.md5(bg.encode()).hexdigest()[:8], 16) % DSIR_BUCKETS

    n_raw: dict[int, int] = {}
    n_tgt: dict[int, int] = {}
    per_doc: dict[int, list[int]] = {}
    for doc_id, text, lang in docs:
        toks = text.split()
        for a, b in zip(toks, toks[1:]):
            bk = bucket(f"{a} {b}")
            n_raw[bk] = n_raw.get(bk, 0) + 1
            if lang == "en":
                n_tgt[bk] = n_tgt.get(bk, 0) + 1
            per_doc.setdefault(doc_id, []).append(bk)
    tot_raw, tot_tgt = sum(n_raw.values()), sum(n_tgt.values())
    w_int = {
        bk: int(
            round(
                math.log(
                    (float(n_tgt.get(bk, 0) + 1) * float(tot_raw + DSIR_BUCKETS))
                    / (float(n_raw[bk] + 1) * float(tot_tgt + DSIR_BUCKETS))
                )
                * 1000000.0
            )
        )
        for bk in n_raw
    }
    for doc_id, _, _ in docs:
        expected = round(sum(w_int[bk] for bk in per_doc[doc_id]) / 1000000.0, 6)
        assert rows[doc_id]["dsir_score"] == expected, doc_id
        assert rows[doc_id]["n_bigrams"] == len(per_doc[doc_id])
    # target-vocabulary docs outrank off-target ones, and the fr doc
    # with target-like content scores above the pure off-target docs
    assert min(rows[1]["dsir_score"], rows[2]["dsir_score"]) > max(
        rows[3]["dsir_score"], rows[4]["dsir_score"]
    )
    assert rows[5]["dsir_score"] > max(rows[3]["dsir_score"], rows[4]["dsir_score"])


def test_bm25_matches_exact_python_twin(spark, tmp_path):
    """Okapi BM25: plant a corpus where term frequency and document
    length pull in opposite directions, then check every score against
    a Python twin that mirrors the operator's arithmetic exactly
    (Lucene idf, 9dp HALF_UP contribution rounding, exact decimal sum,
    6dp final round) — and that length normalization actually demotes
    the padded document."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.operators.text import BM25_B, BM25_K1

    pad = " ".join(["filler"] * 200)
    docs = {
        0: "spark shuffle spark join spark agg",  # query doc
        1: "spark shuffle join agg",  # short, all query terms once
        2: "spark spark spark shuffle shuffle join " + pad,  # high tf, padded
        3: "spark join",  # short, two terms
        4: "filler only document with no query words",
        5: "shuffle shuffle shuffle shuffle agg",  # tf saturation case
    }
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r["doc_id"]: r["bm25"]
        for r in load_catalog()["retrieval_bm25_topk"].fn(spark, str(tmp_path)).collect()
    }

    def r_half_up(x: float, n: int) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal(1).scaleb(-n), rounding=ROUND_HALF_UP)
        )

    toks = {i: t.strip().split() for i, t in docs.items()}
    tf = {
        i: {w: ts.count(w) for w in set(ts)} for i, ts in toks.items()
    }
    dl = {i: len(ts) for i, ts in toks.items()}
    n_docs = len(dl)
    avgdl = float(sum(dl.values())) / n_docs
    df: dict[str, int] = {}
    for ts in tf.values():
        for w in ts:
            df[w] = df.get(w, 0) + 1
    # query = doc 0's top-8 terms by (tf desc, term asc) — doc 0 has 4
    q = sorted(tf[0], key=lambda w: (-tf[0][w], w))[:8]
    expect: dict[int, float] = {}
    for i in range(1, 6):
        contribs = []
        for w in q:
            if w not in tf[i]:
                continue
            idf = math.log(1.0 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
            c = (
                idf
                * (tf[i][w] * (BM25_K1 + 1.0))
                / (tf[i][w] + BM25_K1 * (1.0 - BM25_B + BM25_B * dl[i] / avgdl))
            )
            contribs.append(Decimal(repr(r_half_up(c, 9))))
        if contribs:
            expect[i] = r_half_up(float(sum(contribs)), 6)
    assert got == expect  # doc 4 matches no query term: absent both sides
    # the padded high-tf doc must rank below the short exact-match doc
    assert got[1] > got[2]


def test_vocab_unseen_estimate_exact_counts(spark, tmp_path):
    """Good-Turing/Chao1: plant a corpus with a known
    frequency-of-frequencies profile (3 hapaxes, 2 doubletons, 1
    triple) and check every output, then the no-doubleton
    bias-corrected Chao1 branch."""
    from jaffle_shop_classic_spark.operators.catalog import load_catalog

    def write(docs, sub):
        d = tmp_path / sub
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in docs],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return str(d)

    # tokens: a,b,c once; d,e twice; f three times -> N=10, V=6
    p = write([(1, "a b c d e f"), (2, "d e f"), (3, "f")], "case1")
    row = load_catalog()["vocab_unseen_estimate"].fn(spark, p).collect()[0]
    assert row["n_tokens"] == 10 and row["v_observed"] == 6
    assert row["v_hapax"] == 3 and row["v_dis"] == 2
    assert row["p_unseen_gt"] == 0.3  # 3/10
    assert row["chao1_richness"] == 6 + 3 * 3 / (2 * 2)  # 8.25

    # no doubletons: V1=2, V2=0 -> chao1 = V + V1(V1-1)/2 = 4 + 1
    p = write([(1, "x y z z"), (2, "z w w w")], "case2")
    row = load_catalog()["vocab_unseen_estimate"].fn(spark, p).collect()[0]
    assert row["v_hapax"] == 2 and row["v_dis"] == 0
    assert row["chao1_richness"] == 5.0


def test_wordpiece_greedy_longest_match(spark, tmp_path):
    """Greedy must take the longest in-vocab prefix: with 'abcd' and
    'abce' sharing 'abc' (3 words needed for a multi-char piece, so
    plant 3 carriers), 'abcd' segments abc|d (2 pieces), never
    a|b|c|d."""
    write_docs(
        spark,
        tmp_path,
        {1: "abcd abce abcf", 2: "abcd abcd abcd", 3: "zz"},
    )
    rows = {
        r["doc_id"]: r
        for r in load_catalog()["tokenizer_wordpiece_encode"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    # doc 2: three occurrences of abcd -> 3 words, 3 * (abc|d) = 6 pieces
    assert rows[2]["n_words"] == 3 and rows[2]["n_wordpieces"] == 6, rows[2]
    # doc 3: zz -> z|z (no multi-char piece reaches 3 distinct words)
    assert rows[3]["n_words"] == 1 and rows[3]["n_wordpieces"] == 2, rows[3]


def test_unigram_viterbi_beats_greedy(spark, tmp_path):
    """Viterbi is globally optimal: construct a word where greedy
    longest-match-first yields MORE pieces than the optimum. With
    pieces {ab, cde} frequent and 'abc' also frequent, greedy on
    'abcde' takes abc|de or abc|d|e while Viterbi can take ab|cde
    (2 pieces). Assert the unigram path segments 'abcde' into 2."""
    filler = " ".join(["ab"] * 10 + ["cde"] * 10 + ["abc"] * 10)
    write_docs(spark, tmp_path, {1: filler, 2: "abcde"})
    rows = {
        r["doc_id"]: r
        for r in load_catalog()["tokenizer_unigram_viterbi"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert rows[2]["n_subwords"] == 2, rows[2]


# retrieval_rm3_expand's one corpus pass: dl (sum of tf per doc) and df
# (rows per term) from the tf frame equal the token-stream aggregates
def test_rm3_tf_derivations_match_direct_aggregates(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))

    dl_direct = {
        r["doc_id"]: r["dl"]
        for r in tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")).collect()
    }
    dl_derived = {
        r["doc_id"]: r["dl"]
        for r in tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).collect()
    }
    assert dl_direct == dl_derived

    df_direct = {
        r["term"]: r["df"]
        for r in tok.groupBy("term")
        .agg(F.count_distinct("doc_id").alias("df"))
        .collect()
    }
    df_derived = {
        r["term"]: r["df"]
        for r in tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .collect()
    }
    assert df_direct == df_derived
