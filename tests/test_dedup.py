"""Value-level tests for ``operators/dedup.py``: the near-duplicate
kernels (MinHash/LSH, shingles, duplicate spans, CDC chunks, winnowing,
SimHash, containment) and the graph kernels filed with them (components,
k-core, PageRank, HITS, label propagation, link prediction), on planted
inputs whose answer is known a priori. Oracle parity is covered by
tests/test_oracle_parity.py and the shared fixpoint loop by
tests/test_fixpoint.py. A test named ``..._equals_...`` pins the identity
a plan rewrite relies on; SCALING.md has the rewrite's A/B.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jaffle_shop_classic_spark.operators.catalog import load_catalog
from jaffle_shop_classic_spark.operators.dedup import (
    candidate_pairs,
    exploded_shingles,
    minhash_signatures,
)
from jaffle_shop_classic_spark.sources.parquet import load_table

from conftest import write_docs


def _join_form_pairs(bands, cap):
    """The pre-r16 capped candidate generation: windowed hot-band cap +
    band_key self-join (reimplemented verbatim as the test oracle)."""
    w = Window.partitionBy("band_key")
    sized = (
        bands.withColumn("band_n", F.count(F.lit(1)).over(w))
        .filter(F.col("band_n") <= cap)
        .drop("band_n")
    )
    x, y = sized.alias("x"), sized.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def test_url_canonical_collapses_planted_variant_groups(spark, sf_dir):
    """Every 5 consecutive doc_ids carry the same page behind different
    scheme-case/port/slash/param-order/utm/fragment noise — the
    canonicalizer must collapse each group to exactly one URL and
    account for every document exactly once."""
    out = load_catalog()["dedup_url_canonical"].fn(spark, sf_dir).collect()
    from jaffle_shop_classic_spark.sources.parquet import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_dupes"] for r in out) == n_docs
    for r in out:
        assert r["n_dupes"] == 5
        assert r["keep_doc"] % 5 == 0
        assert r["last_doc"] == r["keep_doc"] + 4
        u = r["canonical_url"]
        assert u.startswith("https://docs.example.com/item-")
        assert ":443" not in u and "utm_" not in u and "#" not in u
        assert not u.split("?")[0].endswith("/")
        # surviving params are sorted: page=1 before v=N
        assert u.endswith("?page=1&v=" + u[-1])


def test_kcore_peels_star_keeps_clique(spark):
    """On star(center + 5 leaves) ∪ triangle: leaves have degree 1 < 2
    and peel in round 1, which strands the center (degree 0) in round
    2 — the triangle alone survives with within-core degree 2. The
    multi-round cascade is exactly what single-pass degree filtering
    would get wrong."""
    from jaffle_shop_classic_spark.operators.dedup import kcore_peel

    pairs = [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    edges = edges.unionByName(edges.selectExpr("dst AS src", "src AS dst"))
    out = (
        kcore_peel(edges, k=2, rounds=4)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .collect()
    )
    assert {r["src"]: r["deg"] for r in out} == {10: 2, 11: 2, 12: 2}


def test_link_prediction_scores_shared_neighborhood(spark):
    """On a path a-b-c plus a hub wedge: the 2-hop pair (a, c) through b
    gets a known Jaccard; adjacent pairs never appear; the neighbor cap
    keeps a planted hub's wedge fanout bounded while its leaf pairs
    still score."""
    from jaffle_shop_classic_spark.operators.dedup import (
        LP_NEIGHBOR_CAP,
        _symmetric_edges,
    )
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    # reimplement the scoring body over a planted edge list (the catalog
    # entry derives its graph from LSH; the algebra is what we pin here)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)] + [(10, 100 + i) for i in range(40)],
        "doc_a long, doc_b long",
    )
    edges = _symmetric_edges(pairs)
    w = Window.partitionBy("src").orderBy("dst")
    capped = (
        edges.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= LP_NEIGHBOR_CAP)
        .select("src", "dst")
    )
    deg = {r["src"]: r["n"] for r in capped.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # hub 10 has 40 leaves but its capped adjacency is LP_NEIGHBOR_CAP
    assert deg[10] == LP_NEIGHBOR_CAP
    a, b_ = capped.alias("a"), capped.alias("b")
    common = (
        a.join(b_, (F.col("a.dst") == F.col("b.src")) & (F.col("a.src") < F.col("b.dst")))
        .groupBy(F.col("a.src").alias("u"), F.col("b.dst").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cand = common.join(
        pairs, (common["u"] == pairs["doc_a"]) & (common["v"] == pairs["doc_b"]), "left_anti"
    ).collect()
    got = {(r["u"], r["v"]): r["c"] for r in cand}
    # (1, 3) share exactly neighbor 2; deg(1)=deg(3)=1 -> jaccard 1/1=1
    assert got[(1, 3)] == 1
    # adjacent pair (1,2) must not be predicted
    assert (1, 2) not in got
    # hub leaf pairs within the capped adjacency share exactly the hub
    leaf_pairs = [k for k in got if k[0] >= 100]
    assert leaf_pairs and all(got[k] == 1 for k in leaf_pairs)
    # capped wedge fanout: at most C(cap, 2) leaf pairs from the hub
    assert len(leaf_pairs) <= LP_NEIGHBOR_CAP * (LP_NEIGHBOR_CAP - 1) // 2


def test_kcore_fixpoint_outruns_bounded_peel(spark):
    """A 12-node path peels one vertex from each end per round (6 rounds
    to empty) — the bounded 4-round peel leaves a residue, while the
    fixpoint runs until the probe stops and returns only the attached
    triangle. This is exactly the gap the fixpoint twin exists to close."""
    from jaffle_shop_classic_spark.operators.dedup import kcore_fixpoint, kcore_peel

    path = [(i, i + 1) for i in range(12)]  # 13 nodes, ends deg 1
    tri = [(100, 101), (101, 102), (100, 102)]
    edges = spark.createDataFrame(path + tri, "src long, dst long")
    edges = edges.unionByName(edges.selectExpr("dst AS src", "src AS dst"))

    residue = kcore_peel(edges, k=2, rounds=4).where("src < 100").count()
    assert residue > 0  # bounded peel hasn't finished the chain

    out, rounds_run = kcore_fixpoint(edges, k=2)
    got = {r["src"]: r["deg"] for r in out.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")).collect()}
    assert got == {100: 2, 101: 2, 102: 2}
    assert rounds_run <= 8


def test_link_prediction_true_intersection_values(spark):
    """The round-9 advice fix made n_common the TRUE intersection of
    both endpoints' capped lists. Planted: u=0 with neighbors
    {10,11,12}, v=1 with {11,12,13}, u and v non-adjacent -> the (0,1)
    prediction must score n_common=2 (shared {11,12}), n_union=4,
    jaccard=0.5."""
    from jaffle_shop_classic_spark.operators.dedup import link_prediction_scores

    raw = [(0, 10), (0, 11), (0, 12), (1, 11), (1, 12), (1, 13)]
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in raw], "doc_a long, doc_b long"
    )
    edges = pairs.selectExpr("doc_a AS src", "doc_b AS dst").unionByName(
        pairs.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in link_prediction_scores(pairs, edges).collect()
    }
    r01 = rows[(0, 1)]
    assert r01["n_common"] == 2 and r01["n_union"] == 4
    assert r01["jaccard"] == 0.5


def test_kcore_fixpoint_converges_inside_oracle_unroll(spark):
    """The catalog entry's oracle unrolls KCORE_FIXPOINT_ORACLE_ROUNDS
    peel rounds; the unrolled form equals the true fixpoint only if the
    live graph converges within that depth — assert it does at sf0.001,
    with margin."""
    from jaffle_shop_classic_spark.operators.dedup import (
        KCORE_FIXPOINT_ORACLE_ROUNDS,
        _lsh_candidate_pairs,
        _symmetric_edges,
        kcore_fixpoint,
    )

    edges = _symmetric_edges(_lsh_candidate_pairs(spark, "/root/testdata/sf0.001"))
    _, rounds_run = kcore_fixpoint(edges)
    assert rounds_run <= KCORE_FIXPOINT_ORACLE_ROUNDS - 2


# int64 headroom: a planted worst case at the documented bound
def test_pagerank_int64_headroom_under_total_mass_concentration(spark):
    """PageRank integer units: total rank mass stays ~PR_SCALE (1e12)
    regardless of node count — it is a distribution, not a sum over
    rows — so the hottest possible intermediate is 85 * (all mass at
    one node) ~ 8.5e13, five decimal orders inside int64. Planted
    worst case: a star hub that receives every leaf's full contribution
    each round; values must match an exact Python simulation of the
    same integer ops bit-for-bit."""
    from pyspark.sql import functions as F

    from jaffle_shop_classic_spark.operators.dedup import PR_SCALE, pagerank_ranks

    n_leaves = 50
    pairs = [(0, leaf) for leaf in range(1, n_leaves + 1)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    got = {r["doc_id"]: r["r"] for r in pagerank_ranks(edges).collect()}

    # exact Python twin of the integer recurrence
    n = n_leaves + 1
    base = (15 * PR_SCALE) // (100 * n)
    deg = {0: n_leaves, **{leaf: 1 for leaf in range(1, n_leaves + 1)}}
    r = {v: PR_SCALE // n for v in deg}
    for _ in range(5):  # PR_ITERS
        contrib = {v: r[v] // deg[v] for v in deg}
        msgs = {0: sum(contrib[leaf] for leaf in range(1, n_leaves + 1))}
        for leaf in range(1, n_leaves + 1):
            msgs[leaf] = contrib[0]
        r = {v: base + (85 * msgs[v]) // 100 for v in deg}
    assert got == r
    # headroom: even with EVERY unit of mass at the hub, the widest
    # intermediate is 85 * mass — assert the documented 1e5x margin
    assert 85 * sum(r.values()) < 2**63 / 10**4


def test_substring_dup_spans_recovers_planted_overlaps(spark):
    """Exact substring dedup (Lee et al. ExactSubstr analog): plant a
    40-char string shared verbatim by two documents at different
    offsets, a 29-char shared string (below the 30-char threshold), and
    two disjoint shared spans inside one document — the operator must
    emit exactly the maximal spans at their exact (start, length)."""
    from jaffle_shop_classic_spark.operators.dedup import substring_dup_spans

    shared40 = "THE-QUICK-BROWN-FOX-JUMPS-OVER-LAZY-DOGS"  # 40 chars
    assert len(shared40) == 40
    shared29 = "x" * 29
    other35 = "PACK-MY-BOX-WITH-FIVE-DOZEN-JUGS-OK"  # 35 chars
    assert len(other35) == 35
    # fillers from disjoint alphabets so no accidental 30-gram collisions
    docs = spark.createDataFrame(
        [
            # shared40 at 1-based pos 11; shared29 tails doc 1 only
            (1, "aAbBcCdDeE" + shared40 + "fFgGhHiIjJ" + shared29),
            # shared40 at pos 21; other35 at pos 20+40+6+1 = 67
            (2, "kKlLmMnNoOpPqQrRsStT" + shared40 + "uUvVwW"
             + other35 + "zZyYxX"),
            # other35 at pos 6; shared29 tails doc 3 (still < threshold)
            (3, "01234" + other35 + "56789" + shared29),
            (4, "entirely unique text with no repeats anywhere at all ok"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in substring_dup_spans(docs, 30).collect()
    }
    assert spans == {
        (1, 11, 40),
        (2, 21, 40),
        (2, 67, 35),
        (3, 6, 35),
    }


def test_winnowing_guarantee_and_hot_cap(spark, tmp_path):
    """Winnowing (Schleimer et al. 2003): (a) any token run of length
    >= K+W-1 shared verbatim by two documents must yield >= 1 shared
    fingerprint (the paper's coverage guarantee) — with >= MIN_SHARED
    met here, the pair must surface; (b) documents with no shared
    K-gram share nothing; (c) a fingerprint bucket hotter than the cap
    is dropped, so a 70-document boilerplate cluster produces NO pairs
    from the boilerplate run alone."""
    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.operators.dedup import (
        MAX_BAND_SIZE,
        WINNOW_K,
        WINNOW_W,
    )

    run = " ".join(f"shared{i}" for i in range(2 * (WINNOW_K + WINNOW_W - 1)))
    boiler = " ".join(f"boiler{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    docs = [
        (1, "alpha beta gamma " + run + " delta"),
        (2, run + " epsilon zeta eta theta iota"),
        (3, "kappa lam mu nu xi omicron pi rho sigma tau"),  # disjoint
    ]
    # 70 docs (> MAX_BAND_SIZE) sharing ONLY the boilerplate run, each
    # padded with a unique tail so they share nothing else
    assert MAX_BAND_SIZE < 70
    docs += [
        (100 + i, boiler + f" unique{i}a unique{i}b unique{i}c unique{i}d")
        for i in range(70)
    ]
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    rows = (
        load_catalog()["dedup_winnowing_fingerprints"].fn(spark, str(tmp_path)).collect()
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["shared_fps"] for r in rows}
    # (a) the long shared run surfaces the (1, 2) pair
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    # (b) doc 3 shares no K-gram with anything
    assert not any(3 in p for p in pairs)
    # (c) the boilerplate cluster's only shared content sits in a
    # fingerprint bucket of 70 > cap — dropped, so no 100-series pairs
    assert not any(a >= 100 or b >= 100 for a, b in pairs)


def test_cdc_chunks_handles_empty_text(spark, tmp_path):
    """Empty text must not evaluate the rolling hash on Spark's
    descending sequence(1, 0) = [1, 0] (DuckDB's range(1,1) is empty).
    The guard makes the boundary list empty, so the only chunk is the
    empty substring, filtered by CDC_MIN_LEN — and duplicated long text
    still dedups."""
    dup = "the same shared sentence appears verbatim in both docs"
    write_docs(spark, tmp_path, {1: "", 2: dup, 3: dup, 4: " "})
    rows = (
        load_catalog()["dedup_cdc_chunks"].fn(spark, str(tmp_path)).collect()
    )
    # no chunk fingerprint may come from the empty/whitespace docs
    assert all(r["chunk_len"] >= 16 for r in rows)
    assert any(r["occ"] == 2 and r["docs"] == 2 for r in rows), rows


def test_cdc_empty_text_boundary_list_is_empty(spark):
    """The guarded boundary expression itself (not just the filtered
    output) yields [] for empty text — asserting the CASE guard, which
    CDC_MIN_LEN previously masked."""
    # reproduce the descending-sequence hazard in isolation
    df = spark.sql(
        "SELECT CASE WHEN length('') >= 1 THEN sequence(1, length('')) "
        "ELSE CAST(array() AS ARRAY<INT>) END AS b"
    )
    assert df.collect()[0]["b"] == []
    # and confirm the hazard is real: unguarded sequence(1, 0) descends
    assert spark.sql("SELECT sequence(1, 0) AS s").collect()[0]["s"] == [1, 0]


def test_hits_init_survives_many_nodes(spark):
    """h0's unit is greatest(SCALE, n): with n > HITS_SCALE a naive
    SCALE div n zeroes all hub mass and the first normalizer
    divides by zero. Exercise the kernel expression at a planted
    n > SCALE without materializing 1e6 rows by shrinking the check to
    the expression level."""
    from jaffle_shop_classic_spark.operators.dedup import HITS_SCALE

    n = HITS_SCALE * 10
    row = spark.sql(
        f"SELECT greatest({HITS_SCALE}L, {n}L) div {n}L AS h"
    ).collect()[0]
    assert row["h"] == 1  # unit mass survives; naive form would be 0


def test_simhash_hamming_finds_near_identical_docs(spark, tmp_path):
    """Two docs differing by one token out of many have hamming <= 3
    on the 64-bit fingerprint and must surface as a pair; unrelated
    docs must not."""
    base = " ".join(f"tok{i}" for i in range(120))
    near = " ".join(f"tok{i}" for i in range(119)) + " changed"
    other = " ".join(f"zzz{i}" for i in range(120))
    write_docs(spark, tmp_path, {1: base, 2: near, 3: other})
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in load_catalog()["dedup_simhash_hamming_pairs"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert (1, 2) in pairs, pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs, pairs


# dedup_minhash_recall_eval's shared stage: min commutes with dedup, so
# signatures over the shingle multiset equal those over the set
def test_minhash_signatures_set_equals_multiset(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    direct = minhash_signatures(d)
    sh = exploded_shingles(d).dropDuplicates(["doc_id", "s"])
    via_set = minhash_signatures(d, shingles=sh)
    a = {r["doc_id"]: tuple(r["sig"]) for r in direct.collect()}
    b = {r["doc_id"]: tuple(r["sig"]) for r in via_set.collect()}
    assert a == b


def test_cdc_gear_recurrence_equals_windowed_closed_form(spark):
    # dedup_cdc_chunks replan: the O(n) left-fold Gear recurrence
    # h_i = (2*h_{i-1} + g(c_i)) mod 2^31 must produce the exact
    # boundary set of the oracle's windowed closed form
    # h_i = sum_{k=0}^{min(i,31)-1} g(c_{i-k})*2^k mod 2^31 — terms
    # with k >= 31 are multiples of 2^31 and vanish under the modulus.
    import random

    from jaffle_shop_classic_spark.operators.dedup import (
        CDC_MOD,
        _CDC_M,
        _CDC_P,
    )

    rng = random.Random(7)
    strs = [
        "".join(chr(rng.randint(32, 126)) for _ in range(rng.randint(0, 200)))
        for _ in range(40)
    ]
    strs += ["", "a", "é" * 40]  # empty, single char, non-ASCII
    df = spark.createDataFrame([(s,) for s in strs], "text string")
    closed = (
        f"CASE WHEN length(text) >= 1 THEN "
        f"filter(sequence(1, length(text)), "
        f"i -> (aggregate(sequence(0, least(i, 31) - 1), 0L, "
        f"(acc, k) -> acc + ((ascii(substring(text, i - k, 1)) * {_CDC_M}L) "
        f"% {_CDC_P}L * CAST(pow(2, k) AS BIGINT)) % {_CDC_P}L)"
        f") % {_CDC_P}L % {CDC_MOD} = 0) "
        f"ELSE CAST(array() AS ARRAY<INT>) END"
    )
    rec = (
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
    rows = df.selectExpr(f"{closed} AS c", f"{rec} AS r").collect()
    assert len(rows) == len(strs)
    for row in rows:
        assert row.c == row.r


def test_array_intersect_equals_explode_join_count(spark, sf_dir):
    # dedup_minhash_recall_eval verify replan: for per-doc shingle SETS,
    # size(array_intersect(a, b)) over candidate pairs must equal the
    # exploded (doc, s) equi-join count — including the zero-intersection
    # pairs the inner join drops (3*0 >= la+lb is false for non-empty
    # docs, so they fall out of the threshold filter either way).
    from jaffle_shop_classic_spark.operators.dedup import (
        exploded_shingles,
        load_table,
    )

    d = load_table(spark, sf_dir, "documents").limit(80)
    sh = exploded_shingles(d).dropDuplicates(["doc_id", "s"])
    ids = [r["doc_id"] for r in sh.select("doc_id").distinct().collect()]
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 : i + 4]],
        "doc_a long, doc_b long",
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), "s")
    y = sh.select(F.col("doc_id").alias("doc_b"), "s")
    joined = {
        (r["doc_a"], r["doc_b"]): r["n"]
        for r in pairs.join(x, "doc_a")
        .join(y, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    arr = sh.groupBy("doc_id").agg(F.collect_list("s").alias("ss"))
    via_arr = {
        (r["doc_a"], r["doc_b"]): r["n"]
        for r in pairs.join(
            arr.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("sa")),
            "doc_a",
        )
        .join(
            arr.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("sb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).alias("n"),
        )
        .collect()
    }
    assert len(via_arr) > 0
    for k, n in via_arr.items():
        assert joined.get(k, 0) == n


# capped LSH candidates: the basket-array expansion emits exactly the
# pairs of the windowed-cap + band_key self-join it replaced
def test_basket_candidate_pairs_equal_join_form_synthetic(spark):
    # bucket "hot" has 5 members (over cap=4 -> dropped entirely),
    # bucket "b1" has 3 (all pairs), "b2" has 2, "b3" has 1 (no pair),
    # "b4" carries a duplicated member (band-hash collision stand-in:
    # must not emit a self-pair), and pair (1,2) appears in two buckets
    # (distinct must fold it).
    rows = (
        [(i, "hot") for i in range(5)]
        + [(1, "b1"), (2, "b1"), (3, "b1")]
        + [(1, "b2"), (2, "b2")]
        + [(9, "b3")]
        + [(7, "b4"), (7, "b4"), (8, "b4")]
    )
    bands = spark.createDataFrame(rows, "doc_id long, band_key string")
    cap = 4
    got = {
        (r["doc_a"], r["doc_b"])
        for r in candidate_pairs(bands, cap=cap).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"])
        for r in _join_form_pairs(bands, cap).collect()
    }
    assert got == want
    assert (1, 2) in got and (7, 8) in got
    assert all(a < b for a, b in got)
    # docs 0 and 4 exist ONLY in the over-cap bucket: no pair may
    # reference them (the cap dropped the bucket before expansion)
    assert not any(0 in p or 4 in p for p in got)


def test_basket_candidate_pairs_equal_join_form_corpus(spark, sf_dir):
    from jaffle_shop_classic_spark.operators.dedup import (
        _bands_expr,
        minhash_signatures,
    )

    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d)
    bands = sigs.selectExpr(
        "doc_id", f"explode({_bands_expr('sig')}) AS band_key"
    )
    got = {
        (r["doc_a"], r["doc_b"]) for r in candidate_pairs(bands).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]) for r in _join_form_pairs(bands, 64).collect()
    }
    assert got == want and got


def test_lpa_argmax_aggregate_equals_window(spark):
    # ties on cnt must break to the MIN label; max_by over
    # struct(cnt, -label) must match the row_number window exactly
    rows = [
        (1, 10, 3), (1, 7, 3), (1, 99, 2),   # tie on cnt=3 -> label 7
        (2, 5, 1),                            # singleton
        (3, 4, 2), (3, 4, 2),                 # duplicate rows same label
        (4, 8, 5), (4, 2, 5), (4, 1, 5),      # three-way tie -> label 1
    ]
    counts = spark.createDataFrame(rows, "doc_id long, label long, cnt long")
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    via_window = {
        r["doc_id"]: r["label"]
        for r in counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    via_agg = {
        r["doc_id"]: r["label"]
        for r in counts.groupBy("doc_id")
        .agg(F.expr("max_by(label, struct(cnt, -label))").alias("label"))
        .collect()
    }
    assert via_window == via_agg
    assert via_agg[1] == 7 and via_agg[4] == 1
