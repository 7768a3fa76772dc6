"""Tests for ``operators/relational.py``: the marts and the entries that
run the reference's own model files.
"""

from __future__ import annotations

from jaffle_shop_classic_spark.operators.catalog import load_catalog


def test_verbatim_ref_entries_degrade_loudly_without_checkout(
    spark, sf_dir, monkeypatch
):
    """The two verbatim-reference-file entries must fail with a clear,
    named error (not a deep ENOENT) when /root/reference is absent —
    and the catalog itself must stay loadable."""
    import pytest

    from jaffle_shop_classic_spark.operators import relational

    monkeypatch.setattr(
        relational, "_REF_MODELS_DIR", "/nonexistent/reference/models"
    )
    cat = load_catalog()  # loads fine regardless
    for name in ("sql_model_orders_mart", "jinja_model_customers_mart"):
        with pytest.raises(FileNotFoundError, match="reference models dir"):
            cat[name].fn(spark, sf_dir)
