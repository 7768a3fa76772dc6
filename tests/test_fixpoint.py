"""The shared run-to-convergence loop (operators/dedup.py ``fixpoint``)
and the catalog entries built on it.

The entries below are the default-tier parity slice of the kernels that
loop through ``fixpoint`` or share its round bodies; the full 346-entry
sweep stays in the ``slow`` tier (tests/test_oracle_parity.py).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from jaffle_shop_classic_spark.operators.catalog import load_catalog
from jaffle_shop_classic_spark.operators.dedup import fixpoint
from tools.parity import TABLES, compare

FIXPOINT_ENTRIES = [
    "dedup_cluster_components",
    "dedup_cluster_components_star",
    "entity_resolution_clusters",
    "graph_kcore_peel",
    "graph_kcore_fixpoint",
    "graph_minplus_distance",
    "graph_minplus_fixpoint",
    "cluster_dbscan_grid",
    "dedup_keep_best_representative",
]


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _counter(spark):
    """A one-row state whose step adds 1 up to a ceiling of 3: the
    probe moves for exactly three rounds, then stops."""
    state = spark.range(1).select(F.lit(0).alias("x"))
    step = lambda df: df.select(F.least(F.col("x") + 1, F.lit(3)).alias("x"))  # noqa: E731
    probe = lambda df: df.first()["x"]  # noqa: E731
    return state, step, probe


def test_fixpoint_returns_the_round_whose_probe_stopped(spark):
    state, step, probe = _counter(spark)
    out, rounds = fixpoint(state, step, probe, 10, "counter", oracle_rounds=3)
    assert rounds == 4  # three changing rounds + the confirming one
    assert out.first()["x"] == 3


def test_fixpoint_raises_at_the_round_cap(spark):
    state, step, probe = _counter(spark)
    with pytest.raises(RuntimeError, match="counter did not converge in 3 rounds"):
        fixpoint(state, step, probe, 3, "counter")


def test_fixpoint_raises_past_the_oracle_unroll_depth(spark):
    state, step, probe = _counter(spark)
    with pytest.raises(RuntimeError, match="counter changed for 3 rounds .* unrolls only 2"):
        fixpoint(state, step, probe, 10, "counter", oracle_rounds=2)


@pytest.mark.parametrize("name", FIXPOINT_ENTRIES)
def test_fixpoint_entry_matches_oracle(name, spark, sf_dir, oracle_con):
    res = compare(name, load_catalog()[name].fn(spark, sf_dir), oracle_con)
    assert res["status"] == "MATCH", res


def _type_class(type_name: str) -> str:
    """int / float / decimal for a DuckDB type name or a Spark
    simpleString; anything else passes through."""
    t = type_name.upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t in ("TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT", "HUGEINT"):
        return "int"
    return t


@pytest.mark.parametrize("name", ["graph_degree_assortativity"])
def test_twin_and_spark_agree_on_numeric_class(name, spark, sf_dir, oracle_con):
    """A representation-exact value hash tells 8 from 8.0, so every
    column must be int on both sides or float on both sides. DESCRIBE
    binds the twin without running it."""
    spec = load_catalog()[name]
    twin = {
        row[0].lower(): _type_class(row[1])
        for row in oracle_con.sql(f"DESCRIBE {spec.oracle}").fetchall()
    }
    ours = {
        f.name.lower(): _type_class(f.dataType.simpleString())
        for f in spec.fn(spark, sf_dir).schema.fields
    }
    assert ours == twin
