"""Value-level tests for ``operators/similarity.py``: exact and
approximate vector search (cosine top-k, hyperplane LSH, IVF, PQ),
projections, retrieval fusion and reranking, clustering, on planted
vectors and the sf0.001 embeddings. Oracle parity is covered by
tests/test_oracle_parity.py.
"""

from __future__ import annotations

from jaffle_shop_classic_spark.operators.catalog import load_catalog


def test_ann_recall_bounded_and_consistent(spark, sf_dir):
    rows = load_catalog()["sim_ann_recall_eval"].fn(spark, sf_dir).collect()
    assert rows, "query sample must be non-empty"
    for r in rows:
        assert 0 <= r["n_hits"] <= 10
        assert abs(r["recall_at_k"] - r["n_hits"] / 10.0) < 1e-9
    # single-probe IVF on 10 coarse lists must find at least part of the
    # true neighborhood somewhere in the sample (all-zero recall would
    # mean the index is broken, not merely coarse)
    assert any(r["n_hits"] > 0 for r in rows)


def test_binary_hamming_planted_sign_flips(spark, tmp_path):
    """Hand-built sign patterns: identical signs -> hamming 0, half
    flipped -> 32, all flipped -> 64; the exact-cosine rerank puts the
    identical vector first."""
    import numpy as np

    def vec(signs):
        return [float(s) for s in signs]

    plus = [1.0] * 64
    half = [1.0] * 32 + [-1.0] * 32
    rows = [
        (0, vec(plus), 0),    # query
        (1, vec(plus), 0),    # hamming 0, cosine 1
        (2, vec(half), 1),    # hamming 32, cosine 0
        (3, vec([-1.0] * 64), 1),  # hamming 64, cosine -1
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    got = load_catalog()["sim_binary_hamming_topk"].fn(spark, str(tmp_path)).collect()
    by_id = {r["vec_id"]: r for r in got}
    assert by_id[1]["hamming"] == 0 and by_id[1]["cosine"] == 1.0
    assert by_id[2]["hamming"] == 32 and abs(by_id[2]["cosine"]) < 1e-9
    assert by_id[3]["hamming"] == 64 and by_id[3]["cosine"] == -1.0
    assert got[0]["vec_id"] == 1  # rerank order is exact cosine


def test_pca_power_matches_numpy_on_planted_direction(spark, tmp_path):
    """PCA power iteration: plant a 64-dim corpus with one dominant
    variance direction (big eigengap, so 12 power iterations converge
    far past the rounding grain), then check the operator's loadings
    and eigenvalue against numpy's exact eigendecomposition of the SAME
    quantized integer covariance the operator defines."""
    import numpy as np

    from jaffle_shop_classic_spark.operators.catalog import load_catalog
    from jaffle_shop_classic_spark.operators.similarity import (
        _PCA_SCALE,
        _PCA_SCALE_SQ,
        PCA_DIM,
    )

    rng = np.random.RandomState(7)
    u = rng.randn(PCA_DIM)
    u /= np.linalg.norm(u)
    # dominant direction variance ~0.04, isotropic noise variance 1e-4
    data = (
        np.outer(rng.randn(300) * 0.2, u) + rng.randn(300, PCA_DIM) * 0.01
    ).astype(np.float32)
    spark.createDataFrame(
        [(i, [float(x) for x in row], 0) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    rows = (
        load_catalog()["embedding_pca_power"]
        .fn(spark, str(tmp_path))
        .orderBy("dim")
        .collect()
    )
    got = np.array([r["loading"] for r in rows])
    got_eig = rows[0]["eigenvalue"]

    # numpy twin of the operator's definition: floor-quantized ints,
    # covariance in original units
    xq = np.floor(data.astype(np.float64) * _PCA_SCALE)
    n = xq.shape[0]
    s = xq.T @ xq
    m = xq.sum(axis=0)
    cov = (s - np.outer(m, m) / n) / n / _PCA_SCALE_SQ
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    # sign: power iteration starts from all-positive, so align signs
    if np.dot(got, top) < 0:
        top = -top
    assert np.abs(np.dot(got, top)) > 0.999999, np.dot(got, top)
    assert abs(got_eig - evals[-1]) < 1e-6, (got_eig, evals[-1])
    # and the planted direction is what it found
    assert abs(abs(np.dot(got, u)) - 1.0) < 1e-2


def test_mmr_complement_full_precision():
    """MMR_MU must be the exact complement of MMR_LAMBDA, not a
    1-decimal rounding of it (which silently mis-weights any future
    lambda with more decimals)."""
    from jaffle_shop_classic_spark.operators import similarity as sim

    assert sim.MMR_MU == 1 - sim.MMR_LAMBDA
