"""``tools/parity.py``: the local replica of the driver's gate.

When the JVM behind the session exits mid-sweep, every later entry fails
to reach it ("connection refused"). The sweep reports the death once,
with the entry that was running and the JVM's exit status, and stops
with a non-zero exit. The sweep tests use stub sessions for Spark.

Cells compare as the driver's value hash does: an integral double is not
the integer of the same value.
"""

from __future__ import annotations

import subprocess
from types import SimpleNamespace

import duckdb

from jaffle_shop_classic_spark.operators.catalog import load_catalog
from tools.parity import TABLES, _rows_multiset, compare, sweep


class _Proc:
    def __init__(self, returncode):
        self.returncode = returncode

    def wait(self, timeout=None):
        if self.returncode is None:
            raise subprocess.TimeoutExpired("java", timeout)
        return self.returncode


def _stub_session(returncode):
    gateway = SimpleNamespace(proc=_Proc(returncode))
    return SimpleNamespace(sparkContext=SimpleNamespace(_gateway=gateway))


def _unreachable_catalog(names, ran):
    def entry(name):
        def fn(spark, sf_dir):
            ran.append(name)
            raise ConnectionRefusedError(111, "Connection refused")

        return SimpleNamespace(fn=fn)

    return {name: entry(name) for name in names}


def test_dead_driver_jvm_stops_the_sweep_with_one_named_error(capsys):
    names, ran = ["first", "second", "third"], []
    code = sweep(_stub_session(-9), None, _unreachable_catalog(names, ran), names, "unused")
    fails = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("FAIL")]
    assert code != 0
    assert ran == ["first"]
    (line,) = fails
    assert "'status': 'DRIVER_JVM_EXITED'" in line
    assert "'name': 'first'" in line and "'exit_code': -9" in line
    assert "'not_run': 2" in line


def test_entry_errors_with_a_live_jvm_keep_the_sweep_going(capsys):
    names, ran = ["first", "second"], []
    code = sweep(_stub_session(None), None, _unreachable_catalog(names, ran), names, "unused")
    fails = [ln for ln in capsys.readouterr().out.splitlines() if ln.startswith("FAIL")]
    assert code == 1
    assert ran == names
    assert len(fails) == 2 and all("'status': 'ERROR'" in ln for ln in fails)


def test_integral_double_is_not_an_integer():
    assert _rows_multiset(["n"], [(8,)]) != _rows_multiset(["n"], [(8.0,)])
    assert _rows_multiset(["n"], [(0,)]) != _rows_multiset(["n"], [(0.0,)])
    assert _rows_multiset(["n", "x"], [(8, 0.5)]) == _rows_multiset(["x", "n"], [(0.5, 8)])
    assert _rows_multiset(["x"], [(8.0,)]) == _rows_multiset(["x"], [(8.0000000001,)])


def test_assortativity_edge_count_is_an_integer_on_both_sides(spark, sf_dir):
    # Spark's n_edges is a BIGINT; a twin that divides with `/` returns a
    # DuckDB DOUBLE, which this gate now reports as a value mismatch
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    df = load_catalog()["graph_degree_assortativity"].fn(spark, sf_dir)
    res = compare("graph_degree_assortativity", df, con)
    assert res["status"] == "MATCH", res
